"""Per-host politeness scheduler — window-ranked priority queues.

The reference throttles globally (8 crawl threads, SQS batches of 10, 1-5 s
idle jitter; crawlers/globus_base_preserved.py:23,139,248-249). This engine
makes politeness *semantic and per-host*:

- every host gets a budget of ``max(1, floor(iteration_seconds / crawl_delay))``
  URLs per iteration (robots Crawl-delay; FIXTURES.md §3);
- robots Disallow prefixes filter candidates before they ever enter the
  frontier (reference ``skip_lookup`` analogue, application.py:119-124);
- breadth-priority order = ``(depth ASC, priority DESC, seq ASC)`` — ``seq`` is
  the deterministic FIFO discovery position, so ranking reproduces the
  reference's queue-BFS order (crawlers/globus_base_preserved.py:427-428,256)
  exactly, independent of cluster size.

Scale notes (the part that must survive 10^10 URLs with Zipf hosts):
- ``rank()`` over ``partitionBy(host)`` alone would sort a mega-host's entire
  pending set in one task. We pre-prune with a salted two-stage top-k:
  rank within ``(host, salt)`` where ``salt = pmod(url_hash, S)``, keep the
  top-budget of each salt lane (a superset of the true top-budget), then rank
  the ≤ S*budget survivors per host. The heavy sort shrinks by ~frontier/budget.
- the optional global cap is ``orderBy(...).limit(n)`` which Spark executes as
  TakeOrderedAndProject (per-partition top-n + driver merge), never a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .robots import DEFAULT_DELAY_S


def order_cols() -> list:
    """Breadth-priority total order: (depth ASC, priority DESC, seq ASC)."""
    return [F.col("depth").asc(), F.col("priority").desc(), F.col("seq").asc()]


def disallow_rules(robots: DataFrame) -> DataFrame:
    return (
        robots.filter((~F.col("allow")) & (F.col("path_prefix") != ""))
        .select("host", "path_prefix")
        .distinct()
    )


def robots_filter(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates matching any Disallow prefix for their host.

    Broadcast left-anti join on host with a startswith theta-condition — the
    rules table is tiny (one row per (host, prefix)), so this never shuffles
    the candidate side.
    """
    rules = disallow_rules(robots).withColumnsRenamed(
        {"host": "r_host", "path_prefix": "r_prefix"}
    )
    return candidates.join(
        F.broadcast(rules),
        (candidates["host"] == F.col("r_host"))
        & candidates["path"].startswith(F.col("r_prefix")),
        "left_anti",
    )


def host_budgets(robots: DataFrame, iteration_seconds: float) -> DataFrame:
    """One row per host: scheduling budget for an iteration.

    budget = max(1, floor(iteration / crawl_delay)). A host declaring
    ``Crawl-delay: 0`` (or junk <= 0) is explicitly UNthrottled — as
    delay -> 0 the floor diverges, so it gets the int32 max, not the
    minimum: non-ANSI Spark turns the 1/0.0 into NULL and
    ``greatest(1, NULL)`` would silently book the tightest budget for the
    one host that asked for none (and ANSI mode would throw instead).

    A host whose rows carry only NULL delays (robots present, no
    Crawl-delay directive — ``parse_robots`` coalesces this at parse time,
    but hand-built frames may not) inherits the parser's
    ``DEFAULT_DELAY_S``: "no directive" means the crawler's own default
    pacing, NOT unthrottled — only an explicit <= 0 declaration is."""
    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(float(DEFAULT_DELAY_S)))
    return (
        robots.groupBy("host")
        .agg(F.max("crawl_delay_s").alias("crawl_delay_s"))
        .select(
            "host",
            F.when(
                delay > 0,
                F.greatest(
                    F.lit(1).cast("long"),
                    F.least(  # cap pre-cast: a tiny delay must saturate,
                        # not wrap the int32 cast to NULL (non-ANSI)
                        F.floor(F.lit(float(iteration_seconds)) / delay),
                        F.lit(2147483647).cast("long"),
                    ),
                ),
            )
            .otherwise(F.lit(2147483647))
            .cast("int")
            .alias("host_budget"),
        )
    )


def schedule(
    pending: DataFrame,
    budgets: DataFrame,
    iteration_seconds: float,
    default_delay_s: float = DEFAULT_DELAY_S,
    global_cap: int | None = None,
    salt_lanes: int = 8,
) -> DataFrame:
    """Pick this iteration's crawl batch: per-host top-budget in breadth order.

    Deterministic under any parallelism: the order key (depth, priority, seq)
    is a total order because ``seq`` is unique.
    """
    default_budget = max(1, int(iteration_seconds / default_delay_s))
    p = pending.join(F.broadcast(budgets), "host", "left").withColumn(
        "host_budget", F.coalesce(F.col("host_budget"), F.lit(default_budget))
    )

    if salt_lanes > 1:
        lane = Window.partitionBy("host", F.pmod(F.col("url_hash"), F.lit(salt_lanes))).orderBy(*order_cols())
        p = (
            p.withColumn("__lane_rn", F.row_number().over(lane))
            .filter(F.col("__lane_rn") <= F.col("host_budget"))
            .drop("__lane_rn")
        )

    per_host = Window.partitionBy("host").orderBy(*order_cols())
    picked = (
        p.withColumn("__rn", F.row_number().over(per_host))
        .filter(F.col("__rn") <= F.col("host_budget"))
        .drop("__rn", "host_budget")
    )
    if global_cap is not None:
        picked = picked.orderBy(*order_cols()).limit(int(global_cap))
    return picked


def budget_allocation(
    hosts: DataFrame,
    total_budget: int,
    host_col: str = "host",
    score_col: str = "score",
    n_buckets: int = 64,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global crawl budget
    across hosts — the per-iteration "how many fetch slots does each host
    get" table a budgeted frontier reads (the reference throttles with one
    global pool of ``max_crawl_threads = 8``, reference
    crawlers/globus_base_preserved.py:23; a proportional per-host budget
    is its semantic upgrade, same family as the Crawl-delay budgets
    above). Exact integer
    contract: ``floor_i = div(B*s_i, total)``, the ``B - sum(floor)``
    leftover units go to the hosts with the largest remainders
    ``(B*s_i) mod total`` (ties: host ASC), so ``sum(budget) == B``
    bit-exactly in any engine. Hosts with score <= 0 are excluded.

    Scale shape: the remainder rank needs the global order statistic, and a
    bare ``row_number() OVER (ORDER BY rem)`` is a single-partition sort of
    the whole host frame — the same trap ``packing.doc_offsets`` avoids, so
    the same two-level scan fixes it: remainders hash into ``n_buckets``
    VALUE-RANGE buckets (``div(rem, ceil-ish(total/n_buckets))`` — bucket
    order IS remainder order, and equal remainders can never straddle a
    boundary), per-bucket counts roll up to a tiny frame whose descending
    running count is the only unpartitioned window, and the intra-bucket
    row_number (PARTITION BY bucket — parallel) adds the offset. Everything
    else is one broadcast total row and map-side arithmetic. int64-safe
    while ``B * max_score < 2^63``.
    """
    b = int(total_budget)
    nb = int(n_buckets)
    h = (
        hosts.select(
            F.col(host_col).alias("host"), F.col(score_col).cast("long").alias("score")
        )
        .filter(F.col("score") > 0)
    )
    tot = h.agg(F.sum("score").cast("long").alias("total"))
    base = h.join(F.broadcast(tot)).select(
        "host",
        "score",
        "total",
        F.expr(f"div({b} * score, total)").alias("floor_share"),
        F.expr(f"({b} * score) % total").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(b) - F.sum("floor_share")).cast("long").alias("leftover")
    )
    bucketed = base.withColumn(
        "bucket", F.expr(f"div(rem, greatest(1L, div(total, {nb})))")
    )
    counts = bucketed.groupBy("bucket").agg(F.count("*").cast("long").alias("c"))
    wb = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = counts.select(
        "bucket", F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("rank_base")
    )
    wi = Window.partitionBy("bucket").orderBy(
        F.col("rem").desc(), F.col("host").asc()
    )
    ranked = bucketed.join(F.broadcast(bases), "bucket").withColumn(
        "rk", F.col("rank_base") + F.row_number().over(wi)
    )
    return ranked.join(F.broadcast(leftover)).select(
        "host",
        "score",
        F.col("floor_share").cast("long").alias("floor_share"),
        F.col("rem").cast("long").alias("rem"),
        (F.col("floor_share") + (F.col("rk") <= F.col("leftover")).cast("long"))
        .cast("long")
        .alias("budget"),
    )
