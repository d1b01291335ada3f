"""Span tracing from outside the engine.

The benchmark does not change the program: it replaces public functions
at the places the engine calls them from (``engine.wand_top_k``, not
``wand.wand_top_k``; methods on their classes) with wrappers that record
a span when tracing is on and call straight through when it is off.
Spans stay in memory and are written once, when the run ends.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the enclosing span, ``op`` the operation id of the workload step that
caused it. A span's self time is its duration minus its direct
children's durations (calls on one thread nest, so children never
overlap).
"""

from __future__ import annotations

import json
import time
from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: Counter = Counter()
        self.enabled = False
        self.op = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``post(tracer, idx, args, kwargs, result)`` may annotate span
        ``idx`` after the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            idx = tracer.open(name)
            try:
                out = orig(*args, **kwargs)
                if post is not None:
                    post(tracer, idx, args, kwargs, out)
                return out
            finally:
                tracer.close(idx)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def count(self, owner, attr: str, name: str, hit) -> None:
        """Count calls of ``owner.attr`` (and those where ``hit(result)``)
        without a span: for calls too frequent to span one by one."""
        orig = getattr(owner, attr)
        tracer = self

        def counted(*args, **kwargs):
            out = orig(*args, **kwargs)
            if tracer.enabled:
                tracer.counters[name + ".calls"] += 1
                tracer.counters[name + ".hits"] += bool(hit(out))
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, counted)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            out.setdefault(s.parent, []).append(i)
        return out

    def self_time(self, idx: int, kids: dict[int, list[int]]) -> float:
        return self.spans[idx].dur - sum(self.spans[c].dur for c in kids.get(idx, ()))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op, **s.attrs},
                        default=str,
                    )
                    + "\n"
                )


def _wand_info(tracer, idx, _a, _k, out) -> None:
    info = out[1]
    tracer.spans[idx].attrs.update(
        decoded_blocks=info["decoded_blocks"],
        total_blocks=info["total_blocks"],
        pruned_intervals=info["pruned_intervals"],
        total_intervals=info["total_intervals"],
    )


def _conj_info(tracer, idx, _a, _k, out) -> None:
    info = out[1]
    tracer.spans[idx].attrs.update(blocks_decoded=info["blocks_decoded"], blocks_skipped=info["blocks_skipped"])


def _mode_attr(tracer, idx, args, kwargs, _out) -> None:
    tracer.spans[idx].attrs["mode"] = kwargs.get("mode", args[3] if len(args) > 3 else "driver")


def _fetch_terms(tracer, idx, args, _k, _out) -> None:
    tracer.spans[idx].attrs["terms"] = list(args[1])


def _row_bytes(r) -> int:
    n = 0
    for c in ("blob", "pos_blob", "off_blob", "pay_blob"):
        v = r[c] if c in r.__fields__ else None
        n += len(v) if v is not None else 0
    for c in ("block_last", "imp_block", "imp_freq", "imp_norm"):
        n += 8 * len(r[c] or ())
    return n


def _rows_moved(tracer, idx, args, _k, out) -> None:
    """Rows and bytes the call's Spark job brought to the driver: the
    rows of the terms its child fetch asked for (cache hits move none)."""
    fetches = [s for s in tracer.spans[idx + 1 :] if s.parent == idx and s.name == "reader.fetch"]
    terms = [t for f in fetches for t in f.attrs["terms"]]
    rows = [r for t in terms for r in out.get(t, ())]
    tracer.spans[idx].attrs.update(
        requested=len(args[1]),
        fetched_terms=len(terms),
        fetched=bool(fetches),
        rows=len(rows),
        bytes=sum(_row_bytes(r) for r in rows),
    )


def _phases(tracer, idx, _a, _k, out) -> None:
    tracer.spans[idx].attrs.update(phase_sec=dict(out.get("phase_sec", {})), docs=out.get("docs"))


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points at their call sites."""
    from lucene_spark.index import builder, checkpoint, reader, writer
    from lucene_spark.search import engine

    # search path: the names engine.py imported
    tracer.wrap(engine.Searcher, "search", "engine.search", post=_mode_attr)
    tracer.wrap(engine.Searcher, "prepare", "engine.prepare")
    tracer.wrap(engine, "parse_query", "parser.parse")
    tracer.wrap(engine, "wand_top_k", "wand.top_k", post=_wand_info)
    tracer.wrap(engine, "conjunction_top_k", "conj.top_k", post=_conj_info)
    tracer.wrap(engine, "evaluate", "kernels.evaluate")
    # reader: point reads, their Spark fetch, decode, caches
    tracer.wrap(reader.SearchIndex, "collect_rows", "reader.collect_rows", post=_rows_moved)
    tracer.wrap(reader.SearchIndex, "postings_rows", "reader.fetch", post=_fetch_terms)
    tracer.wrap(reader.SearchIndex, "postings_from_rows", "reader.decode")
    tracer.wrap(reader.SearchIndex, "chunked_postings", "reader.chunked_postings")
    tracer.count(reader.ChunkDecodeCache, "get", "reader.decode_cache", hit=lambda v: v is not None)
    # build and write path
    tracer.wrap(builder.IndexBuilder, "build", "builder.build", post=_phases)
    tracer.wrap(writer.IndexWriter, "add_documents", "writer.add")
    tracer.wrap(writer.IndexWriter, "commit", "writer.commit")
    tracer.wrap(checkpoint.ResumableIndexBuilder, "merge", "writer.merge_down")
