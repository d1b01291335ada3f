"""The three workloads and the measurements around them.

One process, one client thread, Spark ``local[cores]``; every loop is
closed (the next operation starts when the previous one returned),
because ``Searcher`` is not yet safe for concurrent callers.

- ``build``: repeated one-shot ``IndexBuilder.build`` of one generated
  corpus into fresh directories. Exercises analysis, the invert shuffle,
  codec packing and the table writes; the search layers stay idle apart
  from a short probe of each fresh index.
- ``search``: a closed loop of distinct seeded driver-route queries over
  an index built during set-up, then a short distributed phase of
  hot-term conjunctions. Exercises the parser, reader point reads and
  caches, codec decode, WAND, the kernels and the distributed route.
- ``nrt``: cycles of ``add_documents`` → ``commit`` → new reader → queries
  on a writer-built index; every commit merges down. Exercises the
  writer, tiering and merge, and the read path on cold readers.

Every workload reports every end-to-end metric; README.md says which
phase of each workload feeds which metric.
"""

from __future__ import annotations

import ctypes
import gc
import hashlib
import os
import statistics
import time
import traceback
import zlib
from contextlib import contextmanager
from pathlib import Path

import numpy as np

from perfbench import corpus as C
from perfbench.layers import per_layer, tail
from perfbench.trace import Tracer, install

BUILD_DOCS = 8_000
SEARCH_DOCS = 3_000
NRT_BASE_DOCS = 500
NRT_BATCH_DOCS = 100
NRT_MAX_CYCLES = 40
# a merge-down at every commit: each refresh does the same work, and a
# run of two or more cycles merges at least twice
NRT_MAX_TIERS = 1
SETUP_REPS = 3
WARMUP_QUERIES = 10
PROBE_QUERIES = 10  # driver queries on each fresh index (build) / reader (nrt)
PROBE_DIST_QUERIES = 6
# The measured phase is a fixed amount of work sized from --seconds, so
# that it takes about that long on the 4-core reference host (build and
# nrt run at least two of their 6-7 s operations). A time-bounded loop
# would let a slow run stop earlier in the query stream, with colder
# caches and JIT, and so amplify host noise.
DRIVER_QUERIES_PER_S = 9
DIST_QUERIES_PER_S = 1.5
SECONDS_PER_BUILD = 5
SECONDS_PER_CYCLE = 5
DIST_WARMUP_QUERIES = 3
CHECK_SHARE = 0.3  # share of search queries checked against the oracle
SHA_SAMPLE = 24
SMALL_BUILD_DOCS = 64  # build's set-up: the fixed per-build cost
# distinct terms put in the search reader's row cache before the timed
# loop: more than the reader's 4096-term cache, so every timed miss evicts
ROW_CACHE_FILL_TERMS = 4_608
ROW_CACHE_FILL_BATCH = 512


def _sub_seed(seed: int, name: str) -> int:
    """Independent, reproducible seed per input (not Python's salted hash)."""
    return zlib.crc32(f"{seed}:{name}".encode())


def calibrate(reps: int = 5) -> float:
    """Median ms of a fixed numpy kernel (matmul + sort): host speed,
    timed in the same run as the workload."""
    a = np.random.default_rng(0).random((256, 256))
    b = np.random.default_rng(1).integers(0, 1 << 30, 400_000)
    times = []
    for _ in range(reps + 1):  # the first pass warms caches and BLAS threads
        t0 = time.perf_counter()
        for _ in range(4):
            a @ a
            np.sort(b)
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:]) * 1000


def dir_bytes(path: str | Path) -> dict[str, int]:
    """Bytes on disk per top-level table directory of an index."""
    out: dict[str, int] = {}
    for top in os.listdir(path):
        p = os.path.join(path, top)
        if os.path.isfile(p):
            out[top] = os.path.getsize(p)
            continue
        out[top] = sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(p) for f in fs)
    return out


def _descendants(pid: int) -> list[int]:
    """All processes below ``pid`` (Spark's Python daemon and workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _hits(td) -> list[tuple[int, np.float32]]:
    return [(int(d), np.float32(s)) for d, s in td.hits]


def _vm_mb(field: str) -> float:
    """A ``/proc/self/status`` memory field (VmRSS, VmHWM) in MB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise KeyError(field)


def _release_memory() -> None:
    """Collect garbage and hand freed heap pages back to the OS, so that
    RSS is the live set."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):  # not glibc
        pass


def _count_row_cache(ix) -> dict:
    """Count, on this reader only, the terms its row cache is asked for,
    the ones it had to fetch and the ones it evicted for them."""
    stats = {"requested": 0, "fetched": 0, "evicted": 0}
    if not hasattr(ix, "_row_cache"):  # a reader without this cache: nothing to count
        return stats
    collect = ix.collect_rows  # the class's method (the traced one in a traced run)

    def collect_rows(terms):
        cache = ix._row_cache
        before = len(cache)
        missing = {t for t in terms if t not in cache}
        out = collect(terms)
        stats["requested"] += len(terms)
        stats["fetched"] += len(missing)
        stats["evicted"] += before + len(missing) - len(cache)
        return out

    ix.collect_rows = collect_rows
    return stats


class Bench:
    def __init__(self, work: Path, out: Path, seed: int, seconds: float, trace: bool, cores: int):
        self.work, self.out, self.seed, self.seconds, self.trace = work, out, seed, seconds, trace
        self.cores = cores
        self.tracer = Tracer()
        if trace:
            install(self.tracer)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.oplog: list[dict] = []
        self.kind_counts: dict[str, int] = {}
        self.detail: dict = {}
        self.extra: dict = {}  # per-layer values measured outside spans
        self.spark = None

    # ---- session, ops and checks ----------------------------------------

    def _start_spark(self) -> None:
        from lucene_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.sc = self.spark.sparkContext
        self.detail["spark_start_s"] = round(time.perf_counter() - t0, 3)

    def close(self) -> None:
        """End the Spark JVM and every process under it, and wait for them.

        The JVM is killed rather than stopped: a graceful stop drains the
        listener bus and runs shutdown hooks that delete the local dirs,
        which took 3-7 s per run, and the run keeps nothing Spark holds."""
        from pyspark import SparkContext

        self.tracer.restore()
        if self.spark is None:
            return
        proc = SparkContext._gateway.proc
        tree = _descendants(proc.pid)
        proc.kill()
        proc.wait()
        deadline = time.monotonic() + 60
        while tree and time.monotonic() < deadline:
            tree = [p for p in tree if _alive(p)]
            time.sleep(0.05)
        self.spark = None

    @contextmanager
    def _op(self, kind: str):
        """One workload operation. In a traced run every other operation of
        each kind is traced, so the untraced half measures the overhead."""
        n = self.kind_counts.get(kind, 0)
        self.kind_counts[kind] = n + 1
        traced = self.trace and n % 2 == 0
        rec = {"kind": kind, "traced": traced, "ok": True}
        group = f"perfbench-{len(self.oplog)}"
        if traced:
            self.sc.setJobGroup(group, kind)
            self.tracer.enabled = True
            self.tracer.op = len(self.oplog)
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception:  # an operation that fails is counted, and the run goes on
            rec["ok"] = False
            self._fail(f"{kind}: {traceback.format_exc(limit=3)}")
        finally:
            rec["s"] = time.perf_counter() - t0
            self.tracer.enabled = False
            self.attempted += 1
            self.oplog.append(rec)
        if traced:
            st = self.sc.statusTracker()
            ids = st.getJobIdsForGroup(group)
            tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si else 0
            rec["jobs"], rec["tasks"] = len(ids), tasks

    def _fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(why[-600:])

    def _check(self, name: str, ok: bool, info="") -> None:
        """A correctness check: one attempted operation, failed on mismatch."""
        self.attempted += 1
        if not ok:
            self._fail(f"check {name} failed {info}")

    def _lat(self, kind: str) -> list[float]:
        return [r["s"] for r in self.oplog if r["kind"] == kind and r["ok"]]

    def _ingest(self, pdf, name: str) -> str:
        """Hand a generated corpus to Spark as a multi-file parquet table."""
        path = str(self.work / name)
        self.spark.createDataFrame(pdf).repartition(self.cores).write.mode("overwrite").parquet(path)
        return path

    def _inputs(self, n_docs: int, corpus_seed: int, n_queries: int):
        """The run's generated inputs. ``_regenerate`` makes them again
        after the measured phase and checks that they are identical."""
        self._input_args = (n_docs, corpus_seed, n_queries, self.seed)
        pdf, df, queries, dist = C.inputs(*self._input_args)
        dig = C.digest(pdf, queries + dist)
        self._digest = dig
        self._check("inputs match the pinned digest", C.pinned_digest() == C.PINNED_DIGEST)
        self._mark("inputs")
        # the visibility probe: the smallest term that occurs in exactly one doc
        probe = min(t for t, c in df.items() if c == 1)
        probe_doc = next(i for i, c in enumerate(pdf["content"]) if probe in c.split())
        self.detail["input"] = {
            "digest": dig[:16],
            "docs": n_docs,
            "content_bytes": C.content_bytes(pdf),
            "distinct_terms": len(df),
        }
        return pdf, df, queries, dist, probe, int(pdf["doc_id"].iloc[probe_doc])

    def _regenerate(self):
        """Generate the inputs again, the query stream from the new corpus
        and its df, and check that they are byte-identical to the first."""
        pdf, _df, queries, dist = C.inputs(*self._input_args)
        self._check("deterministic inputs", C.digest(pdf, queries + dist) == self._digest)
        return pdf

    def _measure_start(self) -> None:
        """Free what set-up no longer needs and reset the peak-RSS mark,
        so that driver_rss_peak_mb is the peak of the measured phase."""
        _release_memory()
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        self.detail["rss_measure_start_mb"] = round(_vm_mb("VmRSS"), 1)

    def _measure_end(self) -> None:
        self._rss_mb = _vm_mb("VmHWM")
        self._mark("measure")

    def _profile_queries(self, executed, df, n_docs: int) -> None:
        """Share of executed queries by the df band of their rarest term."""
        bands: dict[str, int] = {}
        for q in executed:
            band = "prefix" if q.shape == "wildcard" else C.df_band(min(df.get(t, 0) for t in q.terms), n_docs)
            bands[band] = bands.get(band, 0) + 1
        self.detail["query_df_bands"] = {b: round(c / max(1, len(executed)), 3) for b, c in sorted(bands.items())}

    def _index_extra(self, ix, index_dir: str, content_bytes: int) -> float:
        """index_bytes_per_input_byte, plus table sizes and codec speed in
        traced runs."""
        tables = dir_bytes(index_dir)
        total = sum(tables.values())
        if self.trace:
            from pyspark.sql import functions as F

            for t in ("postings", "docs", "norms", "term_stats", "term_stats_rev"):
                self.extra[f"index.table_bytes.{t}"] = tables.get(t, 0)
            n_postings = ix.postings.agg(F.sum("df")).first()[0] or 1
            self.extra["index.bytes_per_posting"] = tables.get("postings", 0) / n_postings
            self._codec_speed(ix)
        return total / content_bytes

    def _codec_speed(self, ix) -> None:
        """ns per posting of pack_postings / unpack_postings over a fixed
        hash-sampled eighth of the index's posting rows."""
        from pyspark.sql import functions as F

        from lucene_spark.codec.forutil import pack_postings, unpack_postings

        blobs = [bytes(r["blob"]) for r in ix.postings.filter(F.crc32("term") % 8 == 0).select("blob").collect()]
        decoded = [unpack_postings(b) for b in blobs]
        n = sum(len(d[0]) for d in decoded) or 1
        unpack, pack = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            for b in blobs:
                unpack_postings(b)
            unpack.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            for d, tf, nm in decoded:
                pack_postings(d, tf, nm)
            pack.append(time.perf_counter() - t0)
        self.extra["codec.unpack_ns_per_posting"] = statistics.median(unpack) * 1e9 / n
        self.extra["codec.pack_ns_per_posting"] = statistics.median(pack) * 1e9 / n

    def _probe_queries(self, searcher, queries, start: int, n: int) -> int:
        for q in queries[start : start + n]:
            with self._op("query"):
                searcher.search(q.text, k=q.k)
        return start + n

    def _dist_probe(self, searcher, dist) -> None:
        """A few distributed hot conjunctions on a final index; each is
        checked against the driver route on the same reader."""
        with self._op("dist_first") as rec:
            first = _hits(searcher.search(dist[0].text, k=10, mode="distributed"))
        self.extra["engine.dist_first_query_s"] = rec["s"]
        got = [(dist[0], first)]
        for q in dist[1 : 1 + PROBE_DIST_QUERIES]:
            with self._op("dist"):
                got.append((q, _hits(searcher.search(q.text, k=q.k, mode="distributed"))))
        for q, hits in got:
            self._check("distributed == driver route", hits == _hits(searcher.search(q.text, k=q.k)), q.text)

    # ---- workloads ----------------------------------------------------------

    def _mark(self, phase: str) -> None:
        """Wall time since the previous mark, for the detail line. The end
        of set-up also flushes its writes, so the timed phase does not pay
        for them."""
        if phase == "setup":
            os.sync()
        now = time.perf_counter()
        self.detail.setdefault("phase_s", {})[phase] = round(now - self._t_mark, 2)
        self._t_mark = now

    def run(self, workload: str) -> tuple[dict, dict]:
        self._t_mark = time.perf_counter()
        calib_before = calibrate()
        self._start_spark()
        self._mark("start")
        e2e = getattr(self, "_" + workload)()
        self._mark("checks")
        calib_after = calibrate()
        self.detail["host_calib_ms"] = {"before": round(calib_before, 3), "after": round(calib_after, 3)}
        self.extra["host.calib_ms"] = statistics.median([calib_before, calib_after])
        main_kind = {"build": "build", "search": "query", "nrt": "refresh"}[workload]
        self.detail["op_ms"] = {k: [round(x * 1000, 1) for x in self._lat(k)] for k in self.kind_counts}
        if self.failures:
            self.detail["failures"] = self.failures
        if self.trace:
            self.tracer.write(str(self.out / f"spans-{workload}-{self.seed}.jsonl"))
            layers, info = per_layer(self.tracer, self.oplog, self.extra, main_kind)
            self.detail.update(info)
            metrics = layers
        else:
            metrics = e2e
        return (
            {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
            self.detail,
        )

    def _e2e(self, setup, build_rate, bytes_ratio, refresh) -> dict:
        q = self._lat("query")
        p, tail_s = tail(q)
        self.detail["query_tail"] = {"percentile": p, "samples": len(q)}
        dist = self._lat("dist")
        return {
            "setup_s": (statistics.median(setup), "s"),
            "build_docs_per_s": (build_rate, "1/s"),
            "index_bytes_per_input_byte": (bytes_ratio, "ratio"),
            "query_p50_ms": (statistics.median(q) * 1000, "ms"),
            "query_tail_ms": (tail_s * 1000, "ms"),
            "queries_per_s": (len(q) / sum(q), "1/s"),
            "dist_query_p50_ms": (statistics.median(dist) * 1000, "ms"),
            "refresh_p50_ms": (statistics.median(refresh) * 1000, "ms"),
            "driver_rss_peak_mb": (self._rss_mb, "MB"),
        }

    def _build(self) -> dict:
        from lucene_spark.index import IndexBuilder, IndexConfig, SearchIndex, check_index
        from lucene_spark.search.engine import Searcher

        cfg = IndexConfig(docs_per_chunk=1024, term_buckets=self.cores)
        pdf, df, queries, dist, probe, probe_doc = self._inputs(BUILD_DOCS, _sub_seed(self.seed, "build"), 200)
        n_builds = max(2, round(self.seconds / SECONDS_PER_BUILD))
        self._profile_queries(queries[: n_builds * PROBE_QUERIES], df, BUILD_DOCS)
        path = self._ingest(pdf, "corpus")
        small = self._ingest(pdf.iloc[:SMALL_BUILD_DOCS], "small")
        del pdf, df
        # one untimed full-size build: the JVM's JIT and the Python workers
        # warm up once per process, as in any long-lived builder (a
        # quarter-size warm-up left the first timed build ~1.8x slower)
        t0 = time.perf_counter()
        IndexBuilder(self.spark, cfg).build(self.spark.read.parquet(path), str(self.work / "warm"), assign_ids=False)
        self.detail["warmup_build_s"] = round(time.perf_counter() - t0, 3)
        # set-up that is repeated and reported: a 64-doc build, the cost
        # every build pays whatever its size (Spark stages, table writes)
        setup = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            IndexBuilder(self.spark, cfg).build(self.spark.read.parquet(small), str(self.work / f"small{i}"), assign_ids=False)
            setup.append(time.perf_counter() - t0)
        self.extra["builder.fixed_overhead_s"] = statistics.median(setup)
        self._mark("setup")

        self._measure_start()
        builds, docs, refresh = [], 0, []
        qpos = 0
        for i in range(n_builds):
            d = str(self.work / f"ix{i}")
            with self._op("build") as rec:
                t0 = time.perf_counter()
                m = IndexBuilder(self.spark, cfg).build(self.spark.read.parquet(path), d, assign_ids=False)
                build_s = time.perf_counter() - t0
                searcher = Searcher(SearchIndex(self.spark, d))
                visible = [h[0] for h in searcher.search(probe, k=10).hits]
                refresh.append(time.perf_counter() - t0)
                builds.append(build_s)
                docs += m["docs"]
            self._check("fresh build returns its docs", rec["ok"] and visible == [probe_doc], probe)
            qpos = self._probe_queries(searcher, queries, qpos, PROBE_QUERIES)
        self._dist_probe(searcher, dist)
        self._measure_end()

        pdf = self._regenerate()
        ix = searcher.index
        report = check_index(ix, raise_on_failure=False)
        self._check("check_index", report["status"] == "ok", report["status"])
        self._check("doc count", ix.stats.doc_count == len(pdf), ix.stats.doc_count)
        rng = np.random.default_rng(_sub_seed(self.seed, "sha"))
        sample = sorted(int(x) for x in rng.choice(len(pdf), SHA_SAMPLE, replace=False))
        stored = {r["doc_id"]: r["content_sha256"] for r in ix.docs.filter(ix.docs.doc_id.isin(sample)).collect()}
        for doc in sample:
            want = hashlib.sha256(pdf["content"].iloc[doc].encode()).hexdigest()
            self._check("content_sha256", stored.get(doc) == want, doc)
        if self.trace:
            self._tokenize_speed(IndexBuilder(self.spark, cfg), path)
        ratio = self._index_extra(ix, d, self.detail["input"]["content_bytes"])
        return self._e2e(setup, docs / sum(builds), ratio, refresh)

    def _tokenize_speed(self, builder, path: str) -> None:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        n_tokens = builder.tokenized(self.spark.read.parquet(path)).agg(F.sum("dl")).first()[0]
        took = time.perf_counter() - t0
        self.extra["analysis.tokenize_s"] = took
        self.extra["analysis.tokens_per_s"] = n_tokens / took

    def _search(self) -> dict:
        from lucene_spark.index import IndexBuilder, IndexConfig, SearchIndex
        from lucene_spark.search.engine import Searcher
        from lucene_spark.testing.oracle import OracleIndex

        # docs_per_chunk=128 splits each hot term over ~30 chunk rows
        cfg = IndexConfig(docs_per_chunk=128, term_buckets=self.cores)
        pdf, df, queries, dist, probe, probe_doc = self._inputs(SEARCH_DOCS, _sub_seed(self.seed, "search"), 800)
        warm, stream = queries[:WARMUP_QUERIES], queries[WARMUP_QUERIES:]
        n_driver = min(len(stream), round(self.seconds * DRIVER_QUERIES_PER_S))
        self._profile_queries(stream[:n_driver], df, len(pdf))
        # the row-cache fill: the rarest terms that no query of the run asks
        # for, directly or through a prefix
        asked = {t for q in queries + dist for t in q.terms}
        prefixes = tuple(t[:-1] for t in asked if t.endswith("*"))
        fill = [t for t in sorted(df, key=lambda t: (df[t], t)) if t not in asked and not t.startswith(prefixes)]
        fill = fill[:ROW_CACHE_FILL_TERMS]
        d = str(self.work / "ix")
        t0 = time.perf_counter()
        path = self._ingest(pdf, "corpus")
        del pdf, df
        t1 = time.perf_counter()
        m = IndexBuilder(self.spark, cfg).build(self.spark.read.parquet(path), d, assign_ids=False)
        rate = m["docs"] / (time.perf_counter() - t1)
        visible = [h[0] for h in Searcher(SearchIndex(self.spark, d)).search(probe, k=10).hits]
        refresh = [time.perf_counter() - t1]
        self._check("fresh build returns its docs", visible == [probe_doc], probe)
        self.detail["search_index_build_s"] = round(time.perf_counter() - t0, 3)
        # set-up that is repeated and reported: a reader made ready to
        # serve (open, the distributed route's persisted relation, warm-up)
        setup, dist_first = [], []
        searcher = None
        for _ in range(SETUP_REPS):
            if searcher is not None:
                searcher.index.close()
            t0 = time.perf_counter()
            searcher = Searcher(SearchIndex(self.spark, d))
            searcher.search(probe, k=10)
            t1 = time.perf_counter()
            searcher.search(dist[0].text, k=10, mode="distributed")
            dist_first.append(time.perf_counter() - t1)
            for q in warm:
                searcher.search(q.text, k=q.k)
            setup.append(time.perf_counter() - t0)
        self.extra["engine.dist_first_query_s"] = statistics.median(dist_first)
        # untimed: fill the row cache past its size, as a reader that has
        # served many queries would have it, so every timed miss evicts;
        # then the warm-up again, so its terms are the most recently used
        ix = searcher.index
        for i in range(0, len(fill), ROW_CACHE_FILL_BATCH):
            ix.collect_rows(fill[i : i + ROW_CACHE_FILL_BATCH])
        for q in warm:
            searcher.search(q.text, k=q.k)
        row_cache = _count_row_cache(ix)
        self._mark("setup")

        self._measure_start()
        rng = np.random.default_rng(_sub_seed(self.seed, "check"))
        checked = rng.random(len(stream)) < CHECK_SHARE
        results = []
        for n in range(n_driver):
            q = stream[n]
            with self._op("query"):
                td = searcher.search(q.text, k=q.k)
                if checked[n]:
                    results.append((q, _hits(td)))
        row_cache = dict(row_cache)  # the driver loop's counts only
        # the distributed route keeps speeding up over its first queries
        # in a process (plan code generation, UDF workers): warm it first
        for q in dist[1 : 1 + DIST_WARMUP_QUERIES]:
            searcher.search(q.text, k=q.k, mode="distributed")
        n_dist = max(5, round(self.seconds * DIST_QUERIES_PER_S))
        for q in dist[1 + DIST_WARMUP_QUERIES : 1 + DIST_WARMUP_QUERIES + n_dist]:
            with self._op("dist"):
                results.append((q, _hits(searcher.search(q.text, k=q.k, mode="distributed"))))
        self._measure_end()
        self.extra["reader.row_cache_evictions"] = row_cache["evicted"]
        self.detail["row_cache"] = {
            "fill_terms": len(fill),
            **row_cache,
            "hit_ratio": round(1 - row_cache["fetched"] / max(1, row_cache["requested"]), 4),
        }

        pdf = self._regenerate()
        oracle = OracleIndex.from_texts(dict(zip(pdf["doc_id"].tolist(), pdf["content"])))
        for q, hits in results:
            want = [(d, np.float32(s)) for d, s in oracle.top_k(q.ast, q.k)]
            self._check("rank-identical to the oracle", hits == want, q.text)
        ratio = self._index_extra(searcher.index, d, self.detail["input"]["content_bytes"])
        return self._e2e(setup, rate, ratio, refresh)

    def _nrt(self) -> dict:
        from lucene_spark.index import IndexConfig, SearchIndex
        from lucene_spark.index.writer import IndexWriter
        from lucene_spark.search.engine import Searcher

        cfg = IndexConfig(docs_per_chunk=256, term_buckets=self.cores)
        n_all = NRT_BASE_DOCS + NRT_BATCH_DOCS * NRT_MAX_CYCLES
        n_cycles = min(NRT_MAX_CYCLES, max(2, round(self.seconds / SECONDS_PER_CYCLE)))
        pdf, df, queries, dist, probe, _probe_doc = self._inputs(n_all, _sub_seed(self.seed, "nrt"), 400)
        self._profile_queries(queries[: n_cycles * PROBE_QUERIES], df, n_all)
        pdf = pdf.drop(columns=["doc_id"])
        # each batch carries a token no other doc has: the visibility probe
        marks = [f"visib{c:04d}x" for c in range(n_cycles)]
        batches = []
        for c in range(n_cycles):
            b = pdf.iloc[NRT_BASE_DOCS + c * NRT_BATCH_DOCS : NRT_BASE_DOCS + (c + 1) * NRT_BATCH_DOCS].copy()
            b["content"] = b["content"] + "\n" + marks[c]
            batches.append(b)
        content = C.content_bytes(pdf.iloc[:NRT_BASE_DOCS])
        d = str(self.work / "ix")
        bdf = self.spark.createDataFrame(pdf.iloc[:NRT_BASE_DOCS])
        del pdf, df
        t0 = time.perf_counter()
        writer = IndexWriter(self.spark, d, cfg)
        writer.add_documents(bdf)
        writer.commit(max_tiers=NRT_MAX_TIERS)
        rate = NRT_BASE_DOCS / (time.perf_counter() - t0)
        self.detail["base_build_s"] = round(time.perf_counter() - t0, 3)
        # set-up that is repeated and reported: a writer and a reader made
        # ready on the committed base
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            writer = IndexWriter(self.spark, d, cfg)
            searcher = Searcher(SearchIndex(self.spark, d))
            searcher.search(probe, k=10)
            setup.append(time.perf_counter() - t0)
        self._mark("setup")

        self._measure_start()
        refresh, qpos, merges = [], 0, 0
        for c in range(n_cycles):
            bdf = self.spark.createDataFrame(batches[c])
            with self._op("refresh") as rec:
                t0 = time.perf_counter()
                added = writer.add_documents(bdf)
                ix = writer.commit(max_tiers=NRT_MAX_TIERS)
                t1 = time.perf_counter()
                td = Searcher(ix).search(marks[c], k=2 * NRT_BATCH_DOCS)
                t2 = time.perf_counter()
                refresh.append(t2 - t0)
                rec["open_first_s"] = t2 - t1
            lo = added["first_doc_id"] if rec["ok"] else -1
            ids = sorted(h[0] for h in td.hits) if rec["ok"] else []
            self._check("new docs visible", ids == list(range(lo, lo + NRT_BATCH_DOCS)), marks[c])
            merges += not os.path.isdir(os.path.join(d, "postings", "tier=0"))
            content += C.content_bytes(batches[c])
            searcher.index.close()
            searcher = Searcher(ix)
            qpos = self._probe_queries(searcher, queries, qpos, PROBE_QUERIES)
        self._dist_probe(searcher, dist)
        self._measure_end()

        self._regenerate()
        tiers = [p for p in os.listdir(os.path.join(d, "postings")) if p.startswith("tier=")]
        self.extra["index.tiers_at_end"] = max(1, len(tiers))
        self.extra["writer.merge_downs"] = merges
        self.detail["nrt"] = {"cycles": n_cycles, "merge_downs": merges}
        self.detail["input"].update(docs=NRT_BASE_DOCS + n_cycles * NRT_BATCH_DOCS, content_bytes=content)
        self._check("merged down at least twice", merges >= 2, merges)
        ratio = self._index_extra(searcher.index, d, content)
        return self._e2e(setup, rate, ratio, refresh)
