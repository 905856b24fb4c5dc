"""Per-host crawl operations report (the table an operator tails mid-crawl).

The reference surfaces progress as scalar counters in its status rows
(ref application.py crawl status endpoint; per-crawl counts only) — there is
no per-host breakdown, yet "which hosts are failing / how deep did we get /
is one host eating the budget" is the first question a crawl operator asks.
This rolls the engine's own catalog tables into one host-keyed frame:

- ``seen``            -> n_discovered (URLs that entered the frontier)
- ``crawl_order``     -> n_scheduled, depth_max, first_iter, last_iter
- ``fetch_failures``  -> n_failed (failure events, incl. dead-lettered
                         families, whose url is the family base URL)

Scale shape: three host-key aggregations (map-side combined) joined on
host — every frame is bounded by |hosts| after its agg, so the joins are
small regardless of crawl size; no UDFs. The report reads the CURRENT
snapshot; the per-iteration commits land concurrently (engine.py commit
phase), so pinning one iteration needs the engine's own crawl_state
checkpoint, not per-table ``upto`` guesses — callers needing history can
diff reports taken between iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import FRONTIER_DDL, ORDER_DDL
from ..functions.urls import host_col
from ..storage.catalog import ManifestCatalog

# explicit schemas for every read: an expired/forgotten crawl overwrites
# these tables with EMPTY commits (engine.py expire), which write no parquet
# part files — a schema-less read in a fresh session would then die on
# inference instead of reporting cleanly.
_FAIL_SCHEMA = "crawl_id string, iteration int, url string, reason string"


def crawl_host_report(catalog: ManifestCatalog) -> DataFrame:
    """One row per host with discovery/scheduling/failure counts."""
    seen = catalog.read("seen", schema=FRONTIER_DDL)
    if seen is None:
        raise ValueError("no crawl in this catalog (empty 'seen' table)")
    order = catalog.read("crawl_order", schema=ORDER_DDL)
    fails = catalog.read("fetch_failures", schema=_FAIL_SCHEMA)

    disc = seen.groupBy("host").agg(F.count(F.lit(1)).alias("n_discovered"))
    report = disc
    if order is not None:
        sched = order.groupBy("host").agg(
            F.count(F.lit(1)).alias("n_scheduled"),
            F.max("depth").alias("depth_max"),
            F.min("iteration").alias("first_iter"),
            F.max("iteration").alias("last_iter"),
        )
        report = report.join(sched, "host", "left")
    else:
        report = report.select(
            "*",
            F.lit(None).cast("long").alias("n_scheduled"),
            F.lit(None).cast("int").alias("depth_max"),
            F.lit(None).cast("int").alias("first_iter"),
            F.lit(None).cast("int").alias("last_iter"),
        )
    if fails is not None:
        fl = (
            fails.select(host_col("url").alias("host"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_failed"))
        )
        report = report.join(fl, "host", "left")
    else:
        report = report.select("*", F.lit(None).cast("long").alias("n_failed"))
    return report.select(
        "host",
        "n_discovered",
        F.coalesce("n_scheduled", F.lit(0)).alias("n_scheduled"),
        F.coalesce("n_failed", F.lit(0)).alias("n_failed"),
        "depth_max",
        "first_iter",
        "last_iter",
    )
