"""lucene_spark benchmark: one command, three workloads, checked outputs.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload build|search|nrt --seed N --seconds S --trace 0|1

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same workload
with spans recorded around the engine's layers and reports the
per-layer metrics instead. The line before it (``perfbench detail``)
carries the input profile, tail percentiles and their sample counts, the
host calibration and the driver heap size. See perfbench/README.md.

All files the run writes live in the checkout: ``.bench_run/`` (Spark
dirs, corpora and indexes; removed at start and end) and ``.bench_out/``
(span dumps of traced runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_run"
OUT = ROOT / ".bench_out"
# Spark local[N]: one core per task slot, capped so the benchmark stays
# small on big hosts and identical on this 4-core reference host
MAX_CORES = 4


def _driver_heap() -> str:
    """Driver JVM heap sized to the host: an eighth of physical memory,
    clamped to [1, 2] GiB. session.py pre-touches the whole heap, so its
    16g default would not fit a 15 GB host."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 20)
    return f"{max(1024, min(2048, total_mb // 8))}m"


def _fixed_env() -> dict[str, str]:
    """Environment the run must start with; applied by re-exec because
    PYTHONHASHSEED only takes effect at interpreter start-up."""
    tmp = str(WORK / "tmp")
    return {
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": str(ROOT),
        "SPARK_DRIVER_MEMORY": _driver_heap(),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def _clean() -> None:
    """Remove the work directory and wait until the disk has absorbed it.
    Deleting a few thousand files issues as many discards on a disk
    mounted with online discard; without the sync they drain into the
    next run's timed phase."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.sync()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "search", "nrt"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "lucene_spark" / "__init__.py").is_file():
        print(f"perfbench: no lucene_spark package under {ROOT}", file=sys.stderr)
        return 2
    env = _fixed_env()
    if any(os.environ.get(k) != v for k, v in env.items()):
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, **env})
    # a clean state for every run: nothing left from an earlier one
    _clean()
    os.makedirs(env["TMPDIR"])
    sys.path.insert(0, str(ROOT))
    OUT.mkdir(exist_ok=True)

    from perfbench.workloads import Bench

    bench = Bench(WORK, OUT, args.seed, args.seconds, bool(args.trace), min(MAX_CORES, os.cpu_count() or 1))
    try:
        result, detail = bench.run(args.workload)
    finally:
        bench.close()
    detail["driver_heap"] = env["SPARK_DRIVER_MEMORY"]
    print("perfbench detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result), flush=True)
    _clean()
    return 0


if __name__ == "__main__":
    sys.exit(main())
