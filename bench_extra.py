"""Round-9 measurement harness (guide §1: measure first; §1.4: noop sink).

NOT the graded bench — ``bench.py`` is frozen for measurement. This file
exists so optimization work can (a) time one query in isolation with the
same noop-sink discipline, (b) count the Spark JOBS a query launches
(driver round trips: every collect/localCheckpoint/broadcast-build job
is latency at any scale), and (c) dump ``.explain("formatted")`` to
``plans/r09/`` for the plan-diff evidence the round requires.

Usage:
    python bench_extra.py QUERY [QUERY...] [--passes N] [--tag before]
    python bench_extra.py --all --tag after
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from nde_crawlers_spark.session import get_spark

    s = get_spark(app_name="bench-extra", cores=CPUS,
                  shuffle_partitions=max(CPUS, 16))
    s.sparkContext.setLogLevel("ERROR")
    return s


def run(names: list[str], passes: int = 2, tag: str | None = None) -> dict:
    from nde_crawlers_spark.queries import QUERIES

    spark = _spark()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        # warm codegen at the smallest SF (same discipline as bench.py)
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite").save()
        best, njobs = None, None
        for p in range(passes):
            group = f"bx-{name}-{p}"
            sc.setJobGroup(group, name)
            sc.setJobDescription(name)
            t0 = time.monotonic()
            df = QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.monotonic() - t0, 3)
            jobs = len(tracker.getJobIdsForGroup(group))
            sc.setJobGroup("idle", "idle")
            if best is None or dt < best:
                best, njobs = dt, jobs
        if tag:
            import contextlib
            import io

            os.makedirs("plans/r09", exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                QUERIES[name](spark, SF_DIR).explain("formatted")
            with open(f"plans/r09/{name}_{tag}.txt", "w") as f:
                f.write(buf.getvalue())
        out[name] = {"best_s": best, "jobs": njobs}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"total_best": round(sum(v["best_s"] for v in out.values()), 3),
                      "queries": out}))
    return out


if __name__ == "__main__":
    args = [a for a in sys.argv[1:]]
    passes = 2
    tag = None
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i:i + 2]
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i:i + 2]
    if "--all" in args:
        from nde_crawlers_spark.queries import QUERIES
        names = list(QUERIES)
    else:
        names = args
    run(names, passes=passes, tag=tag)
