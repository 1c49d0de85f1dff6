"""Spans around the calls into each layer, recorded from outside.

The program is not edited: ``install`` swaps the module attributes that
the crawl plan and the hub composition look up at call time
(``plans.crawl.fetch_parse``, ``operators.frontier.topk_per_host``, ...)
for wrappers that run the original call and then materialise its result
(``cache`` + ``count``) inside a span, so the layer's work lands in the
layer's span. ``restore`` puts the originals back. Spans stay in memory
and are written out when the benchmark ends."""

from __future__ import annotations

import functools
import importlib
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    round_id: int | None
    start: float
    end: float = float("nan")
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in children]
    return (end - start) - union_length(clipped)


class Tracer:
    """In-memory span recorder for one run. Single-threaded: wrappers
    are entered from the driver thread that calls into the layers."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.round_id: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached: list = []
        # hub build: the merged frame and the schema-gate expression,
        # kept for the rejected-ratio count
        self.merged = None
        self.gate = None

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = Span(
            span_id=len(self.spans), name=name,
            parent=self._stack[-1].span_id if self._stack else None,
            run_id=self.run_id, round_id=self.round_id, start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        return self_time(span.start, span.end, [(c.start, c.end) for c in self.children(span)])

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def materialize(self, df):
        """Cache and count ``df``; the cache is released by ``release``."""
        df = df.cache()
        self._cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# ---------------------------------------------------------------- wrappers
# Each wrapper: (module, attribute, span name, body). A body receives the
# tracer, the span, the original callable and its arguments; it calls the
# original, materialises the result and records the layer's counts.

def _prepare(tr: Tracer, sp: Span, orig: Callable, df, *a, **kw):
    df, n_in = tr.materialize(df)
    out, n_out = tr.materialize(orig(df, *a, **kw))
    sp.counts.update(candidates_in=n_in, candidates_out=n_out)
    return out


def _seen_filter(tr: Tracer, sp: Span, orig: Callable, cand, seen, *a, **kw):
    sp.counts["candidates"] = cand.count()
    out, n = tr.materialize(orig(cand, seen, *a, **kw))
    sp.counts["unseen"] = n
    return out


def _probe(tr: Tracer, sp: Span, orig: Callable, cand, segments, *a, **kw):
    from pyspark.sql import functions as F

    out, n = tr.materialize(orig(cand, segments, *a, **kw))
    sp.counts.update(probed=n, definite_new=out.filter(~F.col("__maybe_seen")).count())
    return out


def _segments(tr: Tracer, sp: Span, orig: Callable, *a, **kw):
    from pyspark.sql import functions as F

    out, n = tr.materialize(orig(*a, **kw))
    nbytes = out.agg(F.sum(F.length("bits"))).first()[0]
    sp.counts.update(segments=n, bytes=int(nbytes or 0))
    return out


def _topk(tr: Tracer, sp: Span, orig: Callable, df, *a, **kw):
    from pyspark.sql import functions as F

    df, n_in = tr.materialize(df)
    out, n_out = tr.materialize(orig(df, *a, **kw))
    top = out.groupBy("host").count().agg(F.max("count")).first()[0] if n_out else 0
    sp.counts.update(frontier_rows=n_in, selected=n_out, top_host=int(top or 0))
    return out


def _fetch(tr: Tracer, sp: Span, orig: Callable, *a, **kw):
    from pyspark.sql import functions as F

    out, n = tr.materialize(orig(*a, **kw))
    row = out.agg(
        F.sum((F.col("status") == 200).cast("long")).alias("ok"),
        F.sum("attempts").alias("attempts"),
    ).first()
    parts = out.groupBy(F.spark_partition_id().alias("p")).agg(
        F.count("*").alias("rows"), F.max("fetch_wall_ms").alias("wall_ms"),
    ).collect()
    sp.counts.update(
        urls=n, ok=int(row["ok"] or 0), attempts=int(row["attempts"] or 0),
        partition_rows=[r["rows"] for r in parts],
        partition_wall_ms=[r["wall_ms"] for r in parts],
    )
    return out


def _dispatch(tr: Tracer, sp: Span, orig: Callable, docs, *a, **kw):
    docs, n_in = tr.materialize(docs)
    out, n_out = tr.materialize(orig(docs, *a, **kw))
    sp.counts.update(records_in=n_in, records_out=n_out)
    return out


def _key_dedup(tr: Tracer, sp: Span, orig: Callable, *a, **kw):
    out, n = tr.materialize(orig(*a, **kw))
    sp.counts["directives"] = n
    return out


def _apply(tr: Tracer, sp: Span, orig: Callable, *a, **kw):
    out, n = tr.materialize(orig(*a, **kw))
    sp.counts["merged"] = n
    tr.merged = out
    return out


WRAPPED = [
    ("nde_crawlers_spark.operators.frontier", "dedupe_candidates", "urls.prepare", _prepare),
    ("nde_crawlers_spark.operators.seen", "filter_unseen_bloom_segmented", "seen.filter", _seen_filter),
    ("nde_crawlers_spark.operators.seen", "probe_bloom_segmented", "seen.probe", _probe),
    ("nde_crawlers_spark.operators.seen", "build_bloom_segments", "seen.segments", _segments),
    ("nde_crawlers_spark.operators.seen", "or_bloom_segments", "seen.segments", _segments),
    ("nde_crawlers_spark.operators.frontier", "topk_per_host", "frontier.select", _topk),
    ("nde_crawlers_spark.plans.crawl", "fetch_parse", "fetch.fetch_parse", _fetch),
    ("nde_crawlers_spark.operators.fetch", "fetch_parse", "fetch.fetch_parse", _fetch),
    ("nde_crawlers_spark.uploaders", "run_uploader", "uploaders.dispatch", _dispatch),
    ("nde_crawlers_spark.operators.merge", "key_dedup_1x1", "merge.key_dedup", _key_dedup),
    ("nde_crawlers_spark.operators.merge", "apply_merge_directives", "merge.apply", _apply),
]
GATE = ("nde_crawlers_spark.operators.nde_schema", "schema_violation_nde")


def install(tr: Tracer) -> Callable[[], None]:
    """Wrap every layer entry point; returns the function that restores
    the originals. The hub's schema gate returns a Column, not a frame,
    so its wrapper only keeps the expression (``tr.gate``) for the
    rejected-ratio count; its time is the hub build's self time."""
    saved = []
    for mod_name, attr, span_name, body in WRAPPED:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*a, _orig=orig, _name=span_name, _body=body, **kw):
            with tr.span(_name) as sp:
                return _body(tr, sp, _orig, *a, **kw)

        saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)

    gmod = importlib.import_module(GATE[0])
    gorig = getattr(gmod, GATE[1])

    @functools.wraps(gorig)
    def gate(*a, **kw):
        tr.gate = gorig(*a, **kw)
        return tr.gate

    saved.append((gmod, GATE[1], gorig))
    setattr(gmod, GATE[1], gate)

    def restore() -> None:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)

    return restore
