"""The three workloads: inputs, one timed pass, and the correctness gate.

Each workload is a closed loop with one client: the next pass starts
only after the previous one has returned, one Spark job stream at a time
from this driver process. A pass is one complete result from input:
a crawl round, a bulk fetch+parse over the whole frontier, or a hub
build written to parquet."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import gen

CRAWL = {"seeds": 3000, "hosts": 500, "round_seconds": 30}
FETCH = {"urls": 100_000, "hosts": 500, "sample_prefix": "0"}
HUB = {"docs": 8_000}


@dataclass
class PassRecord:
    wall_s: float
    items: int
    jobs: list[int]
    kind: str = "pass"              # crawl rounds: "seed" (round 0) | "steady"
    counts: dict = field(default_factory=dict)
    ok: bool = True
    traced: bool = False


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


def single_process(urls: list[str], num_hosts: int) -> tuple[list[tuple], float, float]:
    """Fetch and parse ``urls`` in this process with ``synth_fetch`` +
    ``parse_record``; also returns microseconds per URL of each step."""
    from nde_crawlers_spark.operators.parse import parse_record
    from nde_crawlers_spark.sources.synthetic import synth_fetch

    t0 = time.perf_counter()
    fetched = [synth_fetch(u, num_hosts, 3) for u in urls]
    t1 = time.perf_counter()
    parsed = [parse_record(f["kind"], f["body"]) if f["status"] == 200 else ([("", [])], [])
              for f in fetched]
    t2 = time.perf_counter()
    rows = [(f["status"], f["attempts"], [tuple(s) for s in docs[0][1]], list(links))
            for f, (docs, links) in zip(fetched, parsed)]
    n = max(len(urls), 1)
    return rows, 1e6 * (t1 - t0) / n, 1e6 * (t2 - t1) / n


class Workload:
    name = ""
    min_passes = 1                  # timed passes per run: at least this many,
    max_passes: int | None = None   # at most this many (None: until --seconds pass)

    def __init__(self, spark, seed: int, workdir: str, cores: int, jobs):
        self.spark, self.seed, self.workdir, self.cores, self.jobs = spark, seed, workdir, cores, jobs
        self.setup_records: list[PassRecord] = []  # timed passes run during set-up
        os.makedirs(workdir, exist_ok=True)

    def generate(self) -> None:
        """Build the seeded inputs in memory (pure Python, no Spark)."""

    def load(self) -> None:
        """Hand the inputs to Spark."""

    def warm_up(self) -> None:
        self.run_pass()

    def run_pass(self, tracer=None) -> list[PassRecord]:
        raise NotImplementedError

    def check(self, records: list[PassRecord]) -> str:
        """Mark each record ok or not; returns a one-line verdict."""
        raise NotImplementedError


class CrawlBudgeted(Workload):
    """A fresh politeness-budgeted crawl with the default CrawlConfig
    (bloom prefilter, AutoThrottle, snapshot frontier), driven one round
    at a time through ``max_rounds`` and ``run(resume=True)`` so every
    round is timed from outside. Round 0 — the seed ingest, in a fresh
    session, as a crawl job starts — is the warm-up; the timed pass is
    round 1. The traced pass is a second fresh crawl of the same seeds,
    rounds 0 and 1, traced."""

    name = "crawl_budgeted"
    TRACED_ROUNDS = 2
    # exactly one timed round (round 1) per run: later rounds select more
    # URLs out of a larger frontier, so timing "as many rounds as fit"
    # would change the measured work with the program's speed
    max_passes = 1

    def generate(self) -> None:
        self.seeds = gen.crawl_seeds(self.seed, CRAWL["seeds"], CRAWL["hosts"])

    def load(self) -> None:
        self.seed_df = self.spark.createDataFrame(self.seeds, "url string, priority int")
        self.signatures: dict[str, dict] = {}

    def _new_run(self, name: str):
        from nde_crawlers_spark.plans.crawl import CrawlConfig, CrawlRun

        run_dir = os.path.join(self.workdir, name)
        shutil.rmtree(run_dir, ignore_errors=True)
        cfg = CrawlConfig(num_hosts=CRAWL["hosts"], round_seconds=CRAWL["round_seconds"],
                          max_rounds=0)
        return CrawlRun(self.spark, run_dir, cfg)

    def warm_up(self) -> None:
        self.run = self._new_run("crawl")
        self.setup_records = [self._round(self.run, 0)]

    def run_pass(self, tracer=None) -> list[PassRecord]:
        if tracer is None:
            return [self._round(self.run, self.run.cfg.max_rounds)]
        run = self._new_run("traced")
        recs = [self._round(run, r, tracer) for r in range(self.TRACED_ROUNDS)]
        self.signatures["traced"] = self._signature(run)
        return recs

    def _round(self, run, r: int, tracer=None) -> PassRecord:
        run.cfg.max_rounds = r + 1
        if tracer is not None:
            tracer.round_id = r
        self.jobs.delta()
        t0 = time.perf_counter()
        with _span(tracer, "crawl.round"):
            meta = run.run(seeds=self.seed_df if r == 0 else None, resume=r > 0)[-1]
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.release()
        return PassRecord(wall, meta["selected"], self.jobs.delta(), "seed" if r == 0 else "steady",
                          counts=self._round_counts(run.run_dir, r, meta))

    @staticmethod
    def _round_counts(run_dir: str, r: int, meta: dict) -> dict:
        """Exact counts read from the committed round: the _COMMIT meta,
        bytes written, and the lineage table's partition skew (largest
        partition's fetched URLs over the mean)."""
        rdir = os.path.join(run_dir, f"round={r:04d}")
        lin = pq.read_table(os.path.join(rdir, "lineage"), columns=["partition_id", "urls_fetched"])
        per_part: dict[int, int] = {}
        for p, n in zip(lin.column("partition_id").to_pylist(), lin.column("urls_fetched").to_pylist()):
            per_part[p] = per_part.get(p, 0) + n
        mean = sum(per_part.values()) / len(per_part) if per_part else 0
        return {
            "round": r,
            "meta": {k: meta[k] for k in ("selected", "documents", "new_seen", "frontier_next", "outlinks")},
            "commit_bytes": _du(rdir),
            "frontier_bytes": _du(os.path.join(rdir, "frontier_next")),
            "lineage_partition_skew": max(per_part.values()) / mean if mean else 1.0,
        }

    def _signature(self, run) -> dict:
        """Crawl order, seen set and document spans of the committed
        rounds, read back from disk."""
        order = run.crawl_order().select("round", "priority", "seq", "url_hash", "canonical_url").collect()
        self.fetched_urls = [r[4] for r in order]
        seen = sorted(r[0] for r in run.seen().select("url_hash").collect())
        docs = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in run.documents().select("doc_id", "spans").collect()
        }
        return {"rounds": len(run.committed_rounds()), "order": [tuple(r[:4]) for r in order],
                "seen": seen, "docs": docs}

    def oracle_signature(self, rounds: int) -> dict:
        from nde_crawlers_spark.plans.oracle import crawl_oracle

        res = crawl_oracle(
            [{"url": u, "priority": p} for u, p in self.seeds], CRAWL["hosts"],
            round_seconds=CRAWL["round_seconds"], max_rounds=rounds,
        )
        return {
            "rounds": rounds, "order": sorted(res.order), "seen": sorted(res.seen),
            "docs": {k: [tuple(s) for s in v] for k, v in res.documents.items()},
        }

    def check(self, records: list[PassRecord]) -> str:
        self.signatures["untraced"] = self._signature(self.run)
        verdicts, bad = [], set()
        for name, sig in self.signatures.items():
            want = self.oracle_signature(sig["rounds"])
            ok = sig == want
            if not ok:
                bad.add(name)
            digests = ",".join(_digest(want[k])[:12] for k in ("order", "seen", "docs"))
            verdicts.append(f"{name} crawl ({sig['rounds']} rounds) "
                            f"{'equals' if ok else 'DIFFERS from'} crawl_oracle [{digests}]")
        for r in records:
            r.ok = r.ok and ("traced" if r.traced else "untraced") not in bad
        return "; ".join(verdicts)


class FetchBulk(Workload):
    """Fused fetch+parse (``operators.fetch.fetch_parse``, colocate=False:
    uniform url_hash partitioning) over a cached Zipf-skewed frontier."""

    name = "fetch_bulk"

    def generate(self) -> None:
        self.table = gen.frontier_table(self.seed, FETCH["urls"], FETCH["hosts"])

    def load(self) -> None:
        from pyspark.sql import functions as F

        from nde_crawlers_spark.functions import urls as U

        path = os.path.join(self.workdir, "frontier.parquet")
        pq.write_table(self.table, path)
        raw = self.spark.read.parquet(path)
        self.cands = (
            U.with_url_columns(raw)
            .withColumn("seq", U.hash_seq(F.col("canonical_url")))
            .select("url_hash", "canonical_url", "host", "host_bucket", "priority", "seq")
            .cache()
        )
        self.n = self.cands.count()
        self.totals: list[tuple] = []

    def _fetch(self, frontier):
        from nde_crawlers_spark.operators import fetch as FE

        return FE.fetch_parse(frontier, FETCH["hosts"], colocate=False, partitions=4 * self.cores)

    def run_pass(self, tracer=None) -> list[PassRecord]:
        from pyspark.sql import functions as F

        self.jobs.delta()
        t0 = time.perf_counter()
        with _span(tracer, "fetch.pass"):
            row = self._fetch(self.cands).agg(
                F.count("*"), F.sum((F.col("status") == 200).cast("long")), F.sum("attempts"),
                F.sum("bytes"), F.sum(F.size("spans")), F.sum(F.size("outlinks")),
                F.sum(F.size("subdocs")),
            ).first()
        wall = time.perf_counter() - t0
        self.totals.append(tuple(row))
        return [PassRecord(wall, self.n, self.jobs.delta(), counts={"totals": list(row)})]

    def sample(self) -> list[dict]:
        """The fetched rows of a fixed sample of the frontier (url_hash
        prefix), fetched by Spark."""
        from pyspark.sql import functions as F

        part = self.cands.filter(F.col("url_hash").startswith(FETCH["sample_prefix"]))
        return [r.asDict(recursive=True) for r in self._fetch(part).select(
            "url_hash", "canonical_url", "status", "attempts", "spans", "outlinks").collect()]

    def check(self, records: list[PassRecord]) -> str:
        got = sorted(self.sample(), key=lambda r: r["url_hash"])
        want, self.fetch_us, self.parse_us = single_process(
            [r["canonical_url"] for r in got], FETCH["hosts"])
        spark_rows = [
            (r["status"], r["attempts"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
             list(r["outlinks"]))
            for r in got
        ]
        sample_ok = bool(got) and _digest(spark_rows) == _digest(want)
        ref = self.totals[0]
        for r in records:
            r.ok = r.ok and sample_ok and tuple(r.counts["totals"]) == ref
        verdict = "equals" if sample_ok else "DIFFERS from"
        same = all(tuple(r.counts["totals"]) == ref for r in records)
        return (f"span checksum of {len(got)} sampled URLs {verdict} a single-process "
                f"synth_fetch+parse_record pass; pass totals identical: {same}")


class HubBuild(Workload):
    """``queries.nde_pipeline_e2e``: uploader dispatch -> 1x1 key dedup
    -> merge directives -> NDE schema gate -> completeness score,
    written to parquet."""

    name = "hub_build"
    # never a one-build median: a single slow build (a host stall) would
    # be the whole sample
    min_passes = 2

    def generate(self) -> None:
        self.table = gen.hub_documents(self.seed, HUB["docs"])

    def load(self) -> None:
        self.src = os.path.join(self.workdir, "src")
        os.makedirs(self.src, exist_ok=True)
        pq.write_table(self.table, os.path.join(self.src, "documents.parquet"))
        self.out = os.path.join(self.workdir, "out")

    def warm_up(self) -> None:
        """One untimed build: compiles every stage's plan, starts the
        Python workers and fills the session's memoised uploader lookups."""
        self._build(self.src, os.path.join(self.workdir, "warm-out"))

    def _build(self, src: str, out: str) -> None:
        from nde_crawlers_spark import queries as Q

        Q.nde_pipeline_e2e(self.spark, src).write.mode("overwrite").parquet(out)

    def run_pass(self, tracer=None) -> list[PassRecord]:
        self.jobs.delta()
        t0 = time.perf_counter()
        with _span(tracer, "hub.build"):
            self._build(self.src, self.out)
        wall = time.perf_counter() - t0
        rec = PassRecord(wall, HUB["docs"], self.jobs.delta())
        out = pq.read_table(self.out).sort_by("doc_id")
        rec.counts = {"rows_out": out.num_rows, "digest": _digest(out.to_pylist())[:16]}
        return [rec]

    def check(self, records: list[PassRecord]) -> str:
        import duckdb

        from nde_crawlers_spark.oracles import ORACLES
        from nde_crawlers_spark.parity import compare

        con = duckdb.connect()
        try:
            path = os.path.join(self.src, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            want = con.execute(ORACLES["nde_pipeline_e2e"]).df()
        finally:
            con.close()
        ok, msg = compare(pq.read_table(self.out).to_pandas(), want)
        last = records[-1].counts["digest"] if records else None
        for r in records:
            r.ok = r.ok and ok and r.counts["digest"] == last
        return f"last build vs DuckDB oracle nde_pipeline_e2e ({len(want)} rows): {msg}"


WORKLOADS = {w.name: w for w in (CrawlBudgeted, FetchBulk, HubBuild)}
