"""Summary statistics, metric-name rules and machine context.

Pure functions: nothing here touches Spark, so the benchmark-local tests
exercise them without a session."""

from __future__ import annotations

import os
import platform
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    """Metric names are ``[A-Za-z0-9_.-]+``, start with a letter or a
    digit and are at most 64 characters long."""
    return METRIC_NAME.fullmatch(name) is not None


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile that has at least ten samples beyond it.

    With ``n`` sorted samples the nearest-rank value at rank ``n - 10``
    has exactly ten samples above it, so it is the ``100 * (n - 10) / n``
    percentile (p50 at 20 samples, p90 at 100). Below eleven samples no
    percentile qualifies and the maximum is reported, labelled ``max``.
    Returns ``(value, label)``."""
    if not values:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    n = len(ordered)
    rank = n - TAIL_MIN_BEYOND
    if rank < 1:
        return float(ordered[-1]), "max"
    return float(ordered[rank - 1]), f"p{100.0 * rank / n:g}"


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def machine_context(cores_used: int) -> dict:
    """What a reader needs to tell a loaded host from a regression."""
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity_cores": len(os.sched_getaffinity(0)),
        "cores_used": cores_used,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }
