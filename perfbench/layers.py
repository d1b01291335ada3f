"""Per-layer metrics, derived from the spans of a traced run.

Times are means per traced operation (a query's collect_rows time is 0
when the row cache served it), so a layer's number times its call count
is its share of the end-to-end time. Layers a workload leaves idle
report 0.
"""

from __future__ import annotations

import statistics

import numpy as np

# highest first; the tail is the highest with at least 10 samples beyond it
TAIL_LADDER = (99.9, 99.0, 95.0, 80.0, 50.0)

PER_LAYER_UNITS = {
    "analysis.tokenize_s": "s",
    "analysis.tokens_per_s": "1/s",
    "builder.prep_s": "s",
    "builder.invert_s": "s",
    "builder.writes_s": "s",
    "builder.between_s": "s",
    "builder.fixed_overhead_s": "s",
    "codec.pack_ns_per_posting": "ns",
    "codec.unpack_ns_per_posting": "ns",
    "index.bytes_per_posting": "B",
    "index.table_bytes.postings": "B",
    "index.table_bytes.docs": "B",
    "index.table_bytes.norms": "B",
    "index.table_bytes.term_stats": "B",
    "index.table_bytes.term_stats_rev": "B",
    "reader.collect_rows_ms": "ms",
    "reader.row_fetch_job_share": "ratio",
    "reader.rows_to_driver": "count",
    "reader.bytes_to_driver": "B",
    "reader.decode_ms": "ms",
    "reader.decode_cache_hit_ratio": "ratio",
    "reader.row_cache_evictions": "count",
    "parser.parse_us": "us",
    "engine.prepare_self_ms": "ms",
    "engine.route_share.wand": "ratio",
    "engine.route_share.conjunction": "ratio",
    "engine.route_share.exhaustive": "ratio",
    "engine.dist_first_query_s": "s",
    "wand.ms": "ms",
    "wand.decoded_block_ratio": "ratio",
    "wand.pruned_interval_ratio": "ratio",
    "conj.ms": "ms",
    "conj.skipped_block_ratio": "ratio",
    "kernels.evaluate_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.jobs_per_dist_query": "count",
    "spark.tasks_per_dist_query": "count",
    "writer.add_ms": "ms",
    "writer.commit_ms": "ms",
    "writer.merge_down_ms": "ms",
    "writer.merge_downs": "count",
    "reader.open_first_query_ms": "ms",
    "index.tiers_at_end": "count",
    "host.calib_ms": "ms",
    "trace.overhead_ratio": "ratio",
}

_ROUTES = {"wand.top_k": "wand", "conj.top_k": "conjunction", "kernels.evaluate": "exhaustive"}


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest ladder percentile with at least 10
    samples beyond it; the median when there are fewer than 20."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (1 - p / 100) >= 10:
            return p, float(np.percentile(values, p))
    return 50.0, float(np.median(values))


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(tracer, oplog: list[dict], extra: dict, main_kind: str) -> tuple[dict, dict]:
    spans = tracer.spans
    kids = tracer.children()
    # root span of every span (parents precede their children)
    root = []
    for i, s in enumerate(spans):
        root.append(i if s.parent < 0 else root[s.parent])
    by_root: dict[int, list[int]] = {}
    for i, r in enumerate(root):
        by_root.setdefault(r, []).append(i)

    def total(r: int, name: str) -> float:
        return sum(spans[i].dur for i in by_root[r] if spans[i].name == name)

    driver = [r for r in by_root if spans[r].name == "engine.search" and spans[r].attrs.get("mode") == "driver"]
    out: dict[str, float] = {}
    out["parser.parse_us"] = _mean(total(r, "parser.parse") * 1e6 for r in driver)
    out["engine.prepare_self_ms"] = _mean(
        sum(tracer.self_time(i, kids) for i in by_root[r] if spans[i].name == "engine.prepare") * 1e3 for r in driver
    )
    out["reader.collect_rows_ms"] = _mean(total(r, "reader.collect_rows") * 1e3 for r in driver)
    out["reader.decode_ms"] = _mean(total(r, "reader.decode") * 1e3 for r in driver)
    rows = [spans[i] for r in driver for i in by_root[r] if spans[i].name == "reader.collect_rows"]
    out["reader.row_fetch_job_share"] = _ratio(sum(s.attrs["fetched"] for s in rows), len(rows))
    out["reader.rows_to_driver"] = _mean(
        sum(spans[i].attrs["rows"] for i in by_root[r] if spans[i].name == "reader.collect_rows") for r in driver
    )
    out["reader.bytes_to_driver"] = _mean(
        sum(spans[i].attrs["bytes"] for i in by_root[r] if spans[i].name == "reader.collect_rows") for r in driver
    )
    out["reader.decode_cache_hit_ratio"] = _ratio(
        tracer.counters["reader.decode_cache.hits"], tracer.counters["reader.decode_cache.calls"]
    )
    routes = {}
    for r in driver:
        taken = [_ROUTES[spans[c].name] for c in kids.get(r, ()) if spans[c].name in _ROUTES]
        if taken:
            routes[r] = taken[0]
    for name in ("wand", "conjunction", "exhaustive"):
        out[f"engine.route_share.{name}"] = _ratio(sum(v == name for v in routes.values()), len(routes))

    wand = [s for s in spans if s.name == "wand.top_k"]
    out["wand.ms"] = _mean(s.dur * 1e3 for s in wand)
    out["wand.decoded_block_ratio"] = _ratio(
        sum(s.attrs["decoded_blocks"] for s in wand), sum(s.attrs["total_blocks"] for s in wand)
    )
    out["wand.pruned_interval_ratio"] = _ratio(
        sum(s.attrs["pruned_intervals"] for s in wand), sum(s.attrs["total_intervals"] for s in wand)
    )
    conj = [s for s in spans if s.name == "conj.top_k"]
    out["conj.ms"] = _mean(s.dur * 1e3 for s in conj)
    skipped = sum(s.attrs["blocks_skipped"] for s in conj)
    out["conj.skipped_block_ratio"] = _ratio(skipped, skipped + sum(s.attrs["blocks_decoded"] for s in conj))
    out["kernels.evaluate_ms"] = _mean(s.dur * 1e3 for s in spans if s.name == "kernels.evaluate")

    traced = [r for r in oplog if r["traced"] and r["ok"]]
    out["spark.jobs_per_query"] = _mean(r["jobs"] for r in traced if r["kind"] == "query")
    out["spark.jobs_per_dist_query"] = _mean(r["jobs"] for r in traced if r["kind"] == "dist")
    out["spark.tasks_per_dist_query"] = _mean(r["tasks"] for r in traced if r["kind"] == "dist")

    builds = [s for s in spans if s.name == "builder.build"]
    for key, phase in (
        ("builder.prep_s", "prep"),
        ("builder.invert_s", "invert_materialize"),
        ("builder.writes_s", "concurrent_writes"),
        ("builder.between_s", "between"),
    ):
        out[key] = _mean(s.attrs["phase_sec"].get(phase, 0.0) for s in builds)
    out["writer.add_ms"] = _mean(s.dur * 1e3 for s in spans if s.name == "writer.add")
    out["writer.commit_ms"] = _mean(s.dur * 1e3 for s in spans if s.name == "writer.commit")
    out["writer.merge_down_ms"] = _mean(s.dur * 1e3 for s in spans if s.name == "writer.merge_down")
    out["reader.open_first_query_ms"] = _mean(r["open_first_s"] * 1e3 for r in traced if r["kind"] == "refresh")

    on = [r["s"] for r in oplog if r["kind"] == main_kind and r["ok"] and r["traced"]]
    off = [r["s"] for r in oplog if r["kind"] == main_kind and r["ok"] and not r["traced"]]
    out["trace.overhead_ratio"] = statistics.median(on) / statistics.median(off) - 1 if on and off else 0.0
    out.update(extra)

    requested = sum(s.attrs["requested"] for s in rows)
    fetched = sum(s.attrs["fetched_terms"] for s in rows)
    info = {"row_cache_hit_ratio": round(1 - _ratio(fetched, requested), 4), "traced_ops": len(traced), "spans": len(spans)}
    return {k: (float(out.get(k, 0.0)), u) for k, u in PER_LAYER_UNITS.items()}, info
