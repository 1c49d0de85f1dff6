"""Per-layer metrics of a traced run, named by module.

Times come from the traced pass's spans: a layer's ``*_s`` is the summed
duration of its spans in that pass, except ``crawl.round_self_s`` and
``nde_schema.gate_s``, which are self times of the root spans (the part
no layer span covers). Counts are summed over the pass, ratios are taken
over those sums. Spark job, task and exchange counts come from the
untraced passes of the same run that match the traced ones (for the
crawl: the untraced crawl's rounds 0 and 1), so they describe the program
without the tracing's materialisations. A layer the workload never calls
reports 0. ``trace.overhead_s`` is the traced minus the untraced wall
time of the matching non-seed passes (the untraced seed round is the
cold warm-up, so it is not a fair reference).
"""

from __future__ import annotations

import statistics

PER_LAYER = {
    "crawl.round_self_s": "s", "crawl.seed_round_s": "s", "crawl.spark_jobs": "count",
    "crawl.spark_tasks": "count", "crawl.commit_bytes": "bytes", "crawl.frontier_rows": "count",
    "crawl.frontier_bytes": "bytes",
    "urls.prepare_s": "s", "urls.candidates_in": "count", "urls.candidates_out": "count",
    "seen.filter_s": "s", "seen.candidates": "count", "seen.unseen": "count",
    "seen.definite_new_ratio": "ratio", "seen.segments_s": "s", "seen.segments_bytes": "bytes",
    "frontier.select_s": "s", "frontier.selected": "count", "frontier.selected_ratio": "ratio",
    "frontier.top_host_share": "ratio",
    "fetch.fetch_parse_s": "s", "fetch.urls": "count", "fetch.ok_ratio": "ratio",
    "fetch.attempts_per_url": "ratio", "fetch.partition_skew": "ratio", "fetch.task_skew": "ratio",
    "synthetic.fetch_us_per_url": "us", "parse.us_per_url": "us",
    "uploaders.dispatch_s": "s", "uploaders.records_in": "count", "uploaders.records_out": "count",
    "merge.key_dedup_s": "s", "merge.directives": "count", "merge.apply_s": "s",
    "nde_schema.gate_s": "s", "nde_schema.rejected_ratio": "ratio", "hub.spark_jobs": "count",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.spans": "count",
}

SAMPLE_URLS = 2000


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _skew(values: list[float]) -> float:
    """Largest over mean, over the non-empty entries (1.0 = balanced)."""
    vals = [v for v in values if v]
    return max(vals) / statistics.mean(vals) if vals else 0.0


def collect_extra(wl, tracer) -> dict:
    """What the per-layer metrics need while the session is still up:
    the rows the hub's schema gate rejects in the traced build, and the
    single-process per-URL cost of the synthetic fetch and the parser
    over a sample of the URLs the workload fetched."""
    if wl.name == "fetch_bulk":
        return {"fetch_us": wl.fetch_us, "parse_us": wl.parse_us}
    if wl.name == "crawl_budgeted":
        from perfbench.workloads import CRAWL, single_process

        _, fetch_us, parse_us = single_process(wl.fetched_urls[:SAMPLE_URLS], CRAWL["hosts"])
        return {"fetch_us": fetch_us, "parse_us": parse_us}
    merged, gate = getattr(tracer, "merged", None), getattr(tracer, "gate", None)
    if merged is None or gate is None:
        return {}
    return {"rejected": merged.filter(gate.isNotNull()).count()}


def _key(rec) -> tuple:
    return rec.kind, rec.counts.get("round")


def per_layer(workload: str, tracer, untraced, traced, extra: dict) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    keys = {_key(r) for r in traced}
    untraced = [r for r in untraced if _key(r) in keys]
    ref = {}
    for r in untraced:
        ref.setdefault(_key(r), r.wall_s)
    m["trace.overhead_s"] = sum(r.wall_s - ref[_key(r)] for r in traced
                                if r.kind != "seed" and _key(r) in ref)

    def spans(name):
        return tracer.named(name)

    def total_s(name):
        return sum(s.duration for s in spans(name))

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in spans(name))

    spark = [r.counts.get("spark", {}) for r in untraced]
    m["spark.shuffle_bytes"] = sum(s.get("shuffle_bytes", 0) for s in spark)
    m["spark.spill_bytes"] = sum(s.get("spill_bytes", 0) for s in spark)
    m["spark.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in spark)
    m["spark.peak_rss_mb"] = extra.get("peak_rss_mb", 0.0)

    if workload == "crawl_budgeted":
        m["crawl.round_self_s"] = sum(tracer.self_time(s) for s in spans("crawl.round"))
        m["crawl.seed_round_s"] = statistics.median(r.wall_s for r in untraced if r.kind == "seed")
        m["crawl.spark_jobs"] = sum(len(r.jobs) for r in untraced)
        m["crawl.spark_tasks"] = sum(s.get("tasks", 0) for s in spark)
        m["crawl.commit_bytes"] = sum(r.counts["commit_bytes"] for r in untraced)
        m["crawl.frontier_bytes"] = sum(r.counts["frontier_bytes"] for r in untraced)
        m["crawl.frontier_rows"] = untraced[-1].counts["meta"]["frontier_next"]
        m["urls.prepare_s"] = total_s("urls.prepare")
        m["urls.candidates_in"] = count("urls.prepare", "candidates_in")
        m["urls.candidates_out"] = count("urls.prepare", "candidates_out")
        m["seen.filter_s"] = total_s("seen.filter")
        m["seen.candidates"] = count("seen.filter", "candidates")
        m["seen.unseen"] = count("seen.filter", "unseen")
        m["seen.definite_new_ratio"] = _ratio(count("seen.probe", "definite_new"),
                                              count("seen.probe", "probed"))
        m["seen.segments_s"] = total_s("seen.segments")
        m["seen.segments_bytes"] = count("seen.segments", "bytes")
        m["frontier.select_s"] = total_s("frontier.select")
        m["frontier.selected"] = count("frontier.select", "selected")
        m["frontier.selected_ratio"] = _ratio(m["frontier.selected"],
                                              count("frontier.select", "frontier_rows"))
        m["frontier.top_host_share"] = _ratio(count("frontier.select", "top_host"),
                                              m["frontier.selected"])
    if workload == "hub_build":
        build = spans("hub.build")
        m["uploaders.dispatch_s"] = total_s("uploaders.dispatch")
        m["uploaders.records_in"] = count("uploaders.dispatch", "records_in")
        m["uploaders.records_out"] = count("uploaders.dispatch", "records_out")
        m["merge.key_dedup_s"] = total_s("merge.key_dedup")
        m["merge.directives"] = count("merge.key_dedup", "directives")
        m["merge.apply_s"] = total_s("merge.apply")
        m["nde_schema.gate_s"] = sum(tracer.self_time(s) for s in build)
        m["hub.spark_jobs"] = statistics.median(len(r.jobs) for r in untraced)
        m["nde_schema.rejected_ratio"] = _ratio(extra.get("rejected", 0),
                                                count("merge.apply", "merged"))
    if workload in ("crawl_budgeted", "fetch_bulk"):
        fetch = spans("fetch.fetch_parse")
        m["fetch.fetch_parse_s"] = total_s("fetch.fetch_parse")
        m["fetch.urls"] = count("fetch.fetch_parse", "urls")
        m["fetch.ok_ratio"] = _ratio(count("fetch.fetch_parse", "ok"), m["fetch.urls"])
        m["fetch.attempts_per_url"] = _ratio(count("fetch.fetch_parse", "attempts"), m["fetch.urls"])
        m["fetch.partition_skew"] = max((_skew(s.counts["partition_rows"]) for s in fetch), default=0.0)
        m["fetch.task_skew"] = max((_skew(s.counts["partition_wall_ms"]) for s in fetch), default=0.0)
        m["synthetic.fetch_us_per_url"] = extra.get("fetch_us", 0.0)
        m["parse.us_per_url"] = extra.get("parse_us", 0.0)
    m["trace.spans"] = len(tracer.spans)
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in m.items()}
