"""CrawlEngine — the breadth-priority frontier-expansion loop.

Each iteration k is a pure DataFrame job over the snapshot of iteration k-1:

    (pending_{k-1}, seen_{k-1})
        -> politeness-rank (window top-budget per host, salted for skew)
        -> fetch (join against the pages table; misses -> dead-letter lineage)
        -> extract text + outlinks (JVM regexp, byte-exact; pandas-UDF seam
           available for arbitrary extractors) + drop html pre-checkpoint
        -> robots filter -> in-batch first-occurrence dedup
        -> bloom fast-path + exact anti-join vs seen
        -> deterministic global seq assignment (range partitions pinned and
           counted, then one JVM stamp expression re-read by every commit)
        -> commit pages_out / extraction_jobs / seen / seen filter (once the
           probe is engaged) / crawl_order /
           frontier_pending (DELTA: append new rows) / frontier_tombstones
           (append scheduled urls) / crawl_state  (crawl_state last = the
           checkpoint; pending is reconstructed on read as appends ANTI
           tombstones, compacted when garbage crosses the configured ratio —
           per-iteration write bytes scale with the batch, never the frontier)

All reads are snapshot-anchored (``upto=...-iter-{k-1}``) and all commits are
idempotent by commit-id, so killing the job anywhere and calling ``resume()``
re-runs at most one iteration and converges to the identical state — the
engine's replacement for the reference's heartbeat + requeue retry machinery
(application.py:25-58,277-296) and its COMMITTING drain phase
(crawlers/globus_base_preserved.py:122-132,446-453).

Reference lifecycle parity: seed registration = ``push_to_pg``/``crawl_paths``
(crawlers/utils/crawler_utils.py:14-46); the iteration loop = the 8-thread
pop-list-enqueue workers (crawlers/globus_base_preserved.py:419-444,256-351);
termination = pending-empty, replacing the 10-empty-polls heuristic
(application.py:194-200).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions.urls import canonicalize_url_col, host_col, path_col, url_hash_col
from .operators import politeness, traps
from .operators.dedup import BloomSeenFilter, anti_join_by_hash, dedup_new_urls
from .operators.extraction import extract_hrefs, extract_text_col
from .operators.grouping import emit_extraction_jobs
from .operators.robots import DEFAULT_DELAY_S
from .plans import with_global_seq
from .storage import ManifestCatalog

FRONTIER_COLS = [
    "crawl_id", "url", "url_hash", "host", "path",
    "depth", "priority", "seq", "discovered_iter",
]

STATE_SCHEMA = pa.schema(
    [
        ("crawl_id", pa.string()), ("iteration", pa.int32()), ("status", pa.string()),
        ("scheduled", pa.int64()), ("fetched", pa.int64()), ("failed", pa.int64()),
        ("new_urls", pa.int64()), ("frontier_pending", pa.int64()),
        ("tombstones", pa.int64()),  # garbage rows in the pending append chain
        ("next_seq", pa.int64()), ("families", pa.int64()),
        ("bytes_crawled", pa.int64()), ("wall_ms", pa.int64()),
    ]
)


@dataclass
class CrawlConfig:
    iteration_seconds: float = 30.0   # politeness budget window per iteration
    global_cap: int | None = None     # optional cap on urls scheduled/iteration
    salt_lanes: int = 8               # host-skew salting for the rank window
    # engage the bloom PROBE only once the seen set is worth it; below this the
    # exact anti-join alone is cheaper than an extra Python stage (the probe
    # costs a cogroup pass over every candidate, and its definite-new/maybe
    # union split duplicates the candidate pipeline because exchange reuse
    # does not cross the Python cogroup node). No filter exists below the
    # gate: the first probed iteration builds it from the seen snapshot, its
    # bits sized from that row count. None = exact anti-join only, always.
    bloom_min_seen: int | None = 2_000_000
    # F7 too-large-group skip (reference: '502' on huge dirs => skip + record,
    # crawlers/globus_base_preserved.py:294-297): families with more members
    # than this are dead-lettered (reason 'family_too_large') instead of
    # emitted as extraction jobs. None = no cap.
    max_family_files: int | None = None
    # bound output files per commit (small-file compaction for control tables;
    # None = leave partitioning alone, the petabyte-scale default)
    commit_files: int | None = None
    # eager=True materializes the two per-iteration checkpoints (the fetched
    # pin and the dedup output ``new``) in their own full-parallelism job
    # before any consumer runs. With eager=False, the first two consumer jobs
    # race to compute the same checkpoint partitions and serialize on block
    # locks — cheaper for tiny iterations (one fewer job), but it caps
    # parallelism on big batches. Large-frontier deployments should set True.
    eager_checkpoints: bool = False
    # Frontier commits are INCREMENTAL: each iteration appends its new rows to
    # frontier_pending and its scheduled urls to frontier_tombstones, so
    # per-iteration write bytes scale with the BATCH, not the frontier (a
    # 10^10-row frontier is never rewritten per iteration). Readers
    # reconstruct pending = appends ANTI tombstones. When garbage reaches
    # compact_ratio x live rows, that iteration's commits switch to a full
    # overwrite (materialized pending + empty tombstones), bounding the read
    # amplification at (1 + compact_ratio). 0 = compact every iteration
    # (the round-1 full-rewrite behavior); raise it to trade read cost for
    # fewer big writes.
    frontier_compact_ratio: float = 1.0
    # Structural frontier defense (operators/traps.py): when on, every
    # iteration appends a (host, template, n) census of its NEW urls to the
    # trap_stats table (additive — each canonical url enters new_frontier at
    # most once per crawl) and anti-joins candidates against hosts whose
    # cumulative urls/templates ratio trips the threshold, the same
    # broadcast-anti-join shape as the F2 skip list. Off by default: the
    # reference (and the crawl oracle) model no trap defense, and the flags
    # read state pinned to the PREVIOUS iteration's commit so kill/resume
    # replays identical decisions. Quarantine thresholds are DELIBERATELY
    # far above the census-report defaults (traps.DEFAULT_*): the report
    # flags anything worth a look (10 urls/template), but every legitimate
    # site is template-driven, so enforcement only fires on hosts minting
    # hundreds of URLs per pattern over a large sample — measured on the
    # 400-page organic fixture, the census defaults would quarantine
    # ordinary hosts (verified: guard-on at these defaults keeps crawl
    # order byte-identical on trap-free input).
    trap_guard: bool = False
    trap_ratio_permille: int = 200_000  # >=200 distinct urls per template
    trap_min_urls: int = 5_000
    max_iterations: int = 10_000


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        workdir: str,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.catalog = ManifestCatalog(workdir, spark)
        # Pre-partition the page store by the join key once and keep it
        # materialized: every iteration's fetch-join then reuses that hash
        # partitioning instead of re-shuffling the (huge) pages side. On a real
        # cluster this is Iceberg bucketing on url_hash; here: cached repartition.
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.pages = pages.repartition(p, "url").persist()
        self.robots = robots.persist()
        # per-host budgets are iteration-invariant (robots crawl-delay x the
        # configured window) — build the tiny broadcast side once, not per
        # iteration
        self.budgets = politeness.host_budgets(
            self.robots, self.config.iteration_seconds
        ).persist()
        if self.config.eager_checkpoints:
            # big-deployment mode: materialize the page store's hash layout up
            # front (in production this partitioning pre-exists as Iceberg
            # bucketing — it must not be re-paid inside every iteration)
            self.pages.count()
        self.bloom = (
            None if self.config.bloom_min_seen is None
            else BloomSeenFilter(self.catalog)
        )

    # ------------------------------------------------------------------ state
    def last_state(self) -> dict | None:
        rows = self.catalog.read_last_commit_rows("crawl_state")
        return rows[0] if rows else None

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _probing(self, next_seq: int) -> bool:
        """Whether an iteration whose previous state has ``next_seq`` (the
        seen-set size) probes the filter; monotone, as next_seq only grows."""
        return self.bloom is not None and next_seq >= self.config.bloom_min_seen

    # ------------------------------------------------------------------- seed
    def seed(self, seeds: DataFrame) -> None:
        """Register the seed list as iteration 0 (reference: POST /crawl ->
        crawl_paths rows + initial frontier, application.py:101-153)."""
        s = seeds.select(
            "crawl_id",
            canonicalize_url_col("url").alias("url"),
            F.col("seed_order").cast("long").alias("seed_order"),
        )
        s = (
            s.withColumn("host", host_col("url"))
            .withColumn("path", path_col("url"))
            .withColumn("url_hash", url_hash_col("url"))
        )
        s = politeness.robots_filter(s, self.robots)
        s = s.groupBy("crawl_id", "url", "url_hash", "host", "path").agg(
            F.min("seed_order").alias("seed_order")
        )
        s = with_global_seq(s, [F.col("seed_order").asc()], seq_col="seq", start=0)
        frontier = s.select(
            "crawl_id", "url", "url_hash", "host", "path",
            F.lit(0).alias("depth"), F.lit(0).alias("priority"),
            "seq", F.lit(0).alias("discovered_iter"),
        )
        # consumers re-evaluate the seq stamp (a column expression) off the
        # blocks with_global_seq pinned, so the frontier needs no pin of its
        # own. One action: the count that sizes the state, and the crawl id.
        n, crawl_id = frontier.agg(F.count(F.lit(1)), F.min("crawl_id")).collect()[0]
        self.catalog.commit("frontier_pending", frontier, "pending-iter-0", mode="overwrite")
        self.catalog.commit(
            "seen",
            frontier.select("url_hash", "url", "host", "depth", "seq", "discovered_iter"),
            "seen-iter-0",
        )
        if self.config.trap_guard:
            # seeds enter the seen set too: census them at iteration 0 or a
            # seed list concentrated on one host never counts toward its
            # explosion totals (and the traps-iter-0 anchor exists from the
            # start of the snapshot chain)
            self.catalog.commit(
                "trap_stats",
                traps.template_delta(frontier.select("url")),
                "traps-iter-0", coalesce=1,
            )
        self.catalog.commit_rows(
            "crawl_state",
            [dict(
                crawl_id=crawl_id or "crawl-unknown", iteration=0, status="running",
                scheduled=0, fetched=0, failed=0, new_urls=n, frontier_pending=n,
                tombstones=0, next_seq=int(n), families=0, bytes_crawled=0, wall_ms=0,
            )],
            STATE_SCHEMA,
            "state-iter-0",
        )

    # ------------------------------------------------------------- pending view
    def read_pending(self, upto_iter: int) -> DataFrame:
        """Reconstruct the live frontier as of iteration ``upto_iter``:
        pending appends minus scheduled-url tombstones (both snapshot-anchored
        — see CrawlConfig.frontier_compact_ratio for the write side)."""
        pending = self.catalog.read("frontier_pending", upto=f"pending-iter-{upto_iter}")
        assert pending is not None, f"no pending snapshot for iteration {upto_iter}"
        tombs = self.catalog.read("frontier_tombstones", upto=f"tomb-iter-{upto_iter}")
        if tombs is None:
            return pending
        # int64-keyed anti-join (url equality residual): the per-iteration
        # pending reconstruction never shuffles/sorts frontier-scale strings
        return anti_join_by_hash(pending, tombs)

    def _commit_observed(
        self, table: str, df: DataFrame, commit_id: str, metrics: dict,
        mode: str = "append", coalesce: int | None = None,
    ) -> dict:
        """Commit with counters observed ON the write action itself (no extra
        count jobs — reference A3/A5 counters via ``df.observe``). Falls back
        to an aggregate over the committed snapshot on idempotent re-runs."""
        cols = [c.alias(n) for n, c in metrics.items()]
        obs = Observation()
        committed = self.catalog.commit(
            table, df.observe(obs, *cols), commit_id, mode=mode, coalesce=coalesce
        )
        if committed:
            return {n: (v or 0) for n, v in obs.get.items()}
        snap = self.catalog.read_commit(table, commit_id)
        if snap is None:
            return {n: 0 for n in metrics}
        row = snap.agg(*cols).collect()[0].asDict()
        return {n: (v or 0) for n, v in row.items()}

    # -------------------------------------------------------------- iteration
    def run_iteration(self, k: int) -> dict:
        t0 = time.monotonic()
        cfg = self.config
        prev = f"iter-{k - 1}"
        pending = self.read_pending(k - 1)
        seen = self.catalog.read("seen", upto=f"seen-{prev}")
        st = self.last_state()
        next_seq = int(st["next_seq"])
        fam_seq = int(st["families"])  # cumulative family count (metrics only)
        prev_pending = int(st["frontier_pending"])
        prev_tombs = int(st.get("tombstones") or 0)

        scheduled = politeness.schedule(
            pending, self.budgets, cfg.iteration_seconds,
            default_delay_s=DEFAULT_DELAY_S,
            global_cap=cfg.global_cap, salt_lanes=cfg.salt_lanes,
        )

        # SINGLE upstream materialization: schedule window + fetch join pinned
        # once; every downstream branch (pages_out, failures, links, order,
        # pending subtraction) re-reads these blocks instead of re-executing.
        # Text, outlinks and byte size are extracted BEFORE the checkpoint and
        # the (heavy) html column is dropped: at ~12 KiB/page the html is
        # >90% of the checkpoint bytes but no consumer needs it post-extract —
        # this is the single biggest lever on the per-iteration I/O floor.
        fetched = (
            scheduled.join(self.pages.drop("text", "warc_ts"), on="url", how="left")
            .withColumn("fetch_ok", F.col("html").isNotNull())
            .withColumn("size", F.length("html").cast("long"))
            .withColumn("text", extract_text_col(F.col("html")))
            .withColumn("hrefs", extract_hrefs(F.col("html")))
            .drop("html")
            .localCheckpoint(eager=cfg.eager_checkpoints)  # consumers read blocks
        )
        ok = fetched.filter(F.col("fetch_ok"))
        failures = fetched.filter(~F.col("fetch_ok")).select(
            "crawl_id", F.lit(k).alias("iteration"), "url", F.lit("not_found").alias("reason")
        )

        pages_out = ok.select(
            "crawl_id", F.lit(k).alias("iteration"), "url", "seq", "depth", "host",
            "lang", "size", "text",
        )

        links = ok.select(
            "crawl_id",
            F.col("seq").alias("parent_seq"),
            F.col("depth").alias("parent_depth"),
            F.col("priority").alias("parent_priority"),
            F.posexplode("hrefs").alias("link_idx", "href"),
        )
        # scheme prefilter on the RAW href (equivalent to filtering the
        # canonical url for ^https?:// since canonicalize trims + lowercases
        # the scheme) so the canonicalize tree is evaluated exactly ONCE per
        # link — as the groupBy key on the map side of the dedup shuffle
        cand = links.filter(
            F.col("href").rlike(r"^\s*[Hh][Tt][Tt][Pp][Ss]?://")
        ).select(
            "crawl_id", "parent_seq", "parent_depth", "parent_priority", "link_idx",
            canonicalize_url_col("href").alias("url"),
        )

        # in-batch first-occurrence dedup FIRST: keep the earliest discoverer
        # in the oracle's FIFO processing order (parent_depth,
        # -parent_priority, parent_seq, link_idx) — min over a sortable
        # struct. host/path/hash derivation and the robots filter run AFTER
        # the groupBy, once per DISTINCT url instead of once per link
        # occurrence (they commute with the dedup: both are functions of the
        # url alone). This also keeps the canonicalize tree evaluated on the
        # map side of ONE shuffle — no checkpoint needed to stop Catalyst
        # re-inlining it into four derived columns.
        okey = F.struct(
            F.col("parent_depth").alias("pd"),
            (-F.col("parent_priority")).alias("pnp"),
            F.col("parent_seq").alias("ps"),
            F.col("link_idx").alias("li"),
        )
        firsts = cand.groupBy("crawl_id", "url").agg(F.min(okey).alias("okey"))
        firsts = (
            firsts.withColumn("host", host_col("url"))
            .withColumn("path", path_col("url"))
            .withColumn("url_hash", url_hash_col("url"))
        )
        firsts = politeness.robots_filter(firsts, self.robots)
        if cfg.trap_guard:
            # quarantine exploding hosts before the seen anti-join; stats are
            # pinned to the previous iteration's commit (never this one's),
            # so a mid-iteration resume replays the exact same flag set
            deltas = self.catalog.read(
                "trap_stats", upto=f"traps-{prev}", schema=traps.TRAP_STATS_SCHEMA
            )
            if deltas is not None:
                flagged = traps.flagged_hosts_from_deltas(
                    deltas, cfg.trap_ratio_permille, cfg.trap_min_urls
                )
                firsts = firsts.join(F.broadcast(flagged), "host", "left_anti")
        probe = self._probing(next_seq)
        if probe:
            # engagement: the first probed iteration builds the filter from
            # the seen snapshot it probes against. Idempotent by commit id, so
            # later iterations (whose previous one committed bloom-{prev})
            # and resumes skip it.
            self.bloom.build(seen.select("url"), f"bloom-{prev}")
        new = dedup_new_urls(
            firsts, seen, self.bloom if probe else None, bloom_upto=f"bloom-{prev}"
        )
        new = new.select(
            "crawl_id", "url", "url_hash", "host", "path",
            (F.col("okey.pd") + 1).alias("depth"),
            F.lit(0).alias("priority"),
            F.col("okey.pd").alias("_pd"), F.col("okey.pnp").alias("_pnp"),
            F.col("okey.ps").alias("_ps"), F.col("okey.li").alias("_li"),
        )
        # Pin the dedup output BEFORE the global-seq range partition:
        # repartitionByRange runs a range-boundary SAMPLING pass over its
        # child, which would otherwise evaluate the whole candidate+dedup
        # pipeline a second time (measured as twin full-cost stages).
        new = new.localCheckpoint(eager=cfg.eager_checkpoints)
        # with_global_seq pins its own range partitions (localCheckpoint
        # inside) and stamps seq as a JVM column expression over them, so
        # every commit below re-evaluates the stamp off those blocks inside
        # its own job — no post-stamp checkpoint, no extra job.
        new = with_global_seq(
            new,
            [F.col("_pd").asc(), F.col("_pnp").asc(), F.col("_ps").asc(), F.col("_li").asc()],
            seq_col="seq",
            start=next_seq,
        ).drop("_pd", "_pnp", "_ps", "_li")
        new_frontier = new.select(
            *[c for c in FRONTIER_COLS if c != "discovered_iter"],
            F.lit(k).alias("discovered_iter"),
        )

        # Frontier delta-commit vs compaction (decided from the PREVIOUS
        # state so the concurrent commits don't wait on each other's counts):
        # normally append only this iteration's new rows + tombstones; once
        # accumulated garbage crosses the ratio, rewrite the materialized
        # pending set and reset tombstones in the same commit slot.
        compact = prev_tombs >= cfg.frontier_compact_ratio * max(prev_pending, 1)
        compacted_pending = (
            anti_join_by_hash(pending, fetched.select("url_hash", "url"))
            .select(*FRONTIER_COLS)
            .unionByName(new_frontier.select(*FRONTIER_COLS))
            if compact
            else None
        )

        # ---- commits; counters observed on the write actions themselves.
        # The eight table commits are mutually independent (all read the
        # pinned fetched and seq-partition blocks), so they run as CONCURRENT
        # Spark jobs — the wall cost is the slowest commit, not the sum. Only
        # the crawl_state checkpoint row must come strictly last. Idempotence
        # is per-table commit-id, so a crash anywhere in the concurrent batch
        # still resumes exactly (partially-committed iterations re-run and
        # skip finished commits).
        it = f"iter-{k}"

        def c_order():
            return self._commit_observed(
                "crawl_order",
                fetched.select(
                    "crawl_id", F.lit(k).alias("iteration"),
                    "seq", "depth", "priority", "url", "host",
                ),
                f"order-{it}",
                {"n_sched": F.count(F.lit(1))},
                coalesce=cfg.commit_files,
            )

        def c_pages():
            return self._commit_observed(
                "pages_out", pages_out, f"pages-{it}",
                {"n_ok": F.count(F.lit(1)), "bytes": F.sum("size")},
                coalesce=cfg.commit_files,
            )

        def c_fail():
            self.catalog.commit("fetch_failures", failures, f"fail-{it}", coalesce=cfg.commit_files)

        def c_jobs():
            jobs = emit_extraction_jobs(ok.select("crawl_id", "url", "seq", "size"), k)
            if cfg.max_family_files is not None:
                oversize = F.size("files") > cfg.max_family_files
                dead = jobs.filter(oversize).select(
                    "crawl_id", F.lit(k).alias("iteration"),
                    F.get_json_object("payload_json", "$.base_url").alias("url"),
                    F.lit("family_too_large").alias("reason"),
                )
                self.catalog.commit(
                    "fetch_failures", dead, f"fail-fam-{it}", coalesce=cfg.commit_files
                )
                jobs = jobs.filter(~oversize)
            return self._commit_observed(
                "extraction_jobs", jobs, f"jobs-{it}", {"n_fams": F.count(F.lit(1))},
                coalesce=cfg.commit_files,
            )

        def c_seen():
            return self._commit_observed(
                "seen",
                new_frontier.select("url_hash", "url", "host", "depth", "seq", "discovered_iter"),
                f"seen-{it}",
                {"n_new": F.count(F.lit(1))},
                coalesce=cfg.commit_files,
            )

        def c_bloom():
            if probe:
                batch = new_frontier.select("url")
                self.bloom.update(
                    batch, f"bloom-{it}", rebuild_from=seen.select("url").unionByName(batch)
                )

        def c_pend():
            if compact:
                return self._commit_observed(
                    "frontier_pending", compacted_pending, f"pending-{it}",
                    {"n_pending": F.count(F.lit(1))}, mode="overwrite",
                    coalesce=cfg.commit_files,
                )
            self.catalog.commit(
                "frontier_pending", new_frontier.select(*FRONTIER_COLS),
                f"pending-{it}", coalesce=cfg.commit_files,
            )
            return None

        def c_tomb():
            if compact:
                # repartition(1): an empty 0-partition write would emit no
                # parquet footer and break schema inference on read
                self.catalog.commit(
                    "frontier_tombstones",
                    self._empty("url_hash bigint, url string").repartition(1),
                    f"tomb-{it}", mode="overwrite",
                )
            else:
                self.catalog.commit(
                    "frontier_tombstones", fetched.select("url_hash", "url"),
                    f"tomb-{it}", coalesce=cfg.commit_files,
                )

        def c_traps():
            if not cfg.trap_guard:
                return
            delta = traps.template_delta(new_frontier.select("url"))
            if compact:
                # ride the frontier compaction cadence: fold the whole
                # delta chain + this iteration into ONE overwrite rollup
                # (same commit-id convention, so pinned upto reads are
                # unaffected) — bounds the per-iteration flag read at
                # O(compact_ratio) files instead of O(iterations)
                prior = self.catalog.read(
                    "trap_stats", upto=f"traps-{prev}",
                    schema=traps.TRAP_STATS_SCHEMA,
                )
                rolled = delta if prior is None else prior.unionByName(delta)
                rolled = (
                    rolled.groupBy("host", "template")
                    .agg(F.sum("n").alias("n"))
                    .filter(F.col("n") != 0)  # drop fully-forgotten templates
                )
                self.catalog.commit(
                    "trap_stats", rolled, f"traps-{it}",
                    mode="overwrite", coalesce=1,
                )
            else:
                self.catalog.commit(
                    "trap_stats", delta, f"traps-{it}",
                    coalesce=1,  # template-bounded tiny frame
                )

        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = {
                name: pool.submit(fn)
                for name, fn in [
                    ("order", c_order), ("pages", c_pages), ("fail", c_fail),
                    ("jobs", c_jobs), ("seen", c_seen), ("bloom", c_bloom),
                    ("pend", c_pend), ("tomb", c_tomb), ("traps", c_traps),
                ]
            }
            m_order = futs["order"].result()
            m_pages = futs["pages"].result()
            m_jobs = futs["jobs"].result()
            m_seen = futs["seen"].result()
            m_pend = futs["pend"].result()
            futs["fail"].result()
            futs["bloom"].result()
            futs["tomb"].result()
            futs["traps"].result()
        n_sched, n_ok = int(m_order["n_sched"]), int(m_pages["n_ok"])
        n_new = int(m_seen["n_new"])
        # live pending is exact arithmetic (scheduled rows always come from
        # pending; new rows are deduped against seen which contains every
        # pending row ever appended); the compaction write double-checks it
        if compact:
            n_pending, n_tombs = int(m_pend["n_pending"]), 0
            assert n_pending == prev_pending - n_sched + n_new, (
                f"frontier accounting drift: materialized {n_pending} != "
                f"{prev_pending} - {n_sched} + {n_new}"
            )
        else:
            n_pending, n_tombs = prev_pending - n_sched + n_new, prev_tombs + n_sched
        status = "running" if n_pending > 0 else "complete"
        wall_ms = int((time.monotonic() - t0) * 1000)
        self.catalog.commit_rows(
            "crawl_state",
            [dict(
                crawl_id=str(st["crawl_id"]), iteration=k, status=status,
                scheduled=n_sched, fetched=n_ok, failed=n_sched - n_ok,
                new_urls=n_new, frontier_pending=n_pending, tombstones=n_tombs,
                next_seq=next_seq + n_new, families=fam_seq + int(m_jobs["n_fams"]),
                bytes_crawled=int(m_pages["bytes"]), wall_ms=wall_ms,
            )],
            STATE_SCHEMA,
            f"state-{it}",
        )
        fetched.unpersist()
        return {
            "iteration": k, "scheduled": n_sched, "fetched": n_ok,
            "new_urls": n_new, "pending": n_pending, "status": status,
            "wall_ms": wall_ms,
        }

    # ------------------------------------------------------------------ expire
    def expire(self, urls: DataFrame, mode: str = "recrawl") -> dict:
        """Re-crawl / TTL API over the seen set. Call only on a QUIESCED
        crawl (between runs); the operation commits as pseudo-iteration k+1 so
        every snapshot anchor stays consistent and ``resume()`` just works.

        - ``mode="recrawl"``: expired urls re-enter the frontier with fresh
          seqs (scheduled exactly once on resume). The seen set keeps their
          rows, so links to them keep deduping — no double-crawl.
        - ``mode="forget"``: expired urls are deleted from the seen table
          (hash-keyed anti-join rewrite). Once the probe is engaged, the
          seen filter is rebuilt from the kept rows, so it forgets them too
          and they probe definitely-new. The url is re-crawled when some
          future page links to it, admitted exactly once by the standard
          dedup invariant.

        Recrawl changes no seen row and writes no filter commit; the next
        probed iteration finds no ``bloom-iter-{k}`` and builds one from the
        seen table, as at engagement.

        Unknown urls (never seen) are ignored. Returns counters.
        """
        assert mode in ("recrawl", "forget")
        st = self.last_state()
        assert st is not None, "expire() requires a seeded crawl"
        k = int(st["iteration"]) + 1
        it = f"iter-{k}"
        prev = f"iter-{k - 1}"
        next_seq = int(st["next_seq"])
        prev_pending = int(st["frontier_pending"])
        seen = self.catalog.read("seen", upto=f"seen-{prev}")
        ex = (
            urls.select(canonicalize_url_col("url").alias("url"))
            .dropDuplicates(["url"])
            .withColumn("url_hash", url_hash_col("url"))
        )
        # only urls actually seen can expire; carry their depth for re-entry
        ex = ex.join(
            seen.groupBy("url_hash", "url").agg(F.min("depth").alias("depth")),
            on=["url_hash", "url"],
            how="inner",
        ).localCheckpoint(eager=False)
        n_ex = ex.count()  # admin API: one small driver count is fine

        if mode == "recrawl":
            re_rows = ex.select(
                F.lit(str(st["crawl_id"])).alias("crawl_id"),
                "url", "url_hash",
                host_col("url").alias("host"), path_col("url").alias("path"),
                "depth", F.lit(0).alias("priority"),
            )
            re_rows = with_global_seq(
                re_rows, [F.col("url").asc()], seq_col="seq", start=next_seq
            ).withColumn("discovered_iter", F.lit(k))
            n_exp = n_ex
            self.catalog.commit(
                "frontier_pending", re_rows.select(*FRONTIER_COLS), f"pending-{it}"
            )
            self.catalog.commit(
                "seen", self._empty(
                    "url_hash bigint, url string, host string, depth int, "
                    "seq bigint, discovered_iter int"
                ).repartition(1),
                f"seen-{it}",
            )
        else:  # forget
            kept = anti_join_by_hash(seen, ex.select("url_hash", "url"))
            self.catalog.commit("seen", kept, f"seen-{it}", mode="overwrite")
            n_exp = 0  # forget adds nothing to pending
            if self._probing(next_seq):
                self.bloom.build(kept.select("url"), f"bloom-{it}")
        if mode == "forget":
            self.catalog.commit(
                "frontier_pending",
                self._empty(", ".join(
                    f"{c} {'bigint' if c in ('url_hash', 'seq') else 'int' if c in ('depth', 'priority', 'discovered_iter') else 'string'}"
                    for c in FRONTIER_COLS
                )).repartition(1),
                f"pending-{it}",
            )
        self.catalog.commit(
            "frontier_tombstones",
            self._empty("url_hash bigint, url string").repartition(1),
            f"tomb-{it}",
        )
        if self.config.trap_guard and self.catalog.exists("trap_stats"):
            if mode == "forget":
                # keep the census additive: the forgotten urls leave the
                # seen set, so their template counts leave the table too
                # (negative delta); a later re-discovery re-censuses them
                # exactly once via the standard dedup invariant
                neg = traps.template_delta(ex.select("url")).withColumn(
                    "n", -F.col("n")
                )
                self.catalog.commit("trap_stats", neg, f"traps-{it}", coalesce=1)
            else:
                # recrawl keeps the urls in seen: counts are unchanged, but
                # the pseudo-iteration still needs its snapshot anchor or
                # the next run_iteration's pinned read comes back empty and
                # silently skips quarantine for one iteration
                self.catalog.commit(
                    "trap_stats",
                    self._empty(traps.TRAP_STATS_SCHEMA).repartition(1),
                    f"traps-{it}",
                )
        n_pending = prev_pending + n_exp
        self.catalog.commit_rows(
            "crawl_state",
            [dict(
                crawl_id=str(st["crawl_id"]), iteration=k,
                status="running" if n_pending > 0 else str(st["status"]),
                scheduled=0, fetched=0, failed=0, new_urls=0,
                frontier_pending=n_pending,
                tombstones=int(st.get("tombstones") or 0),
                next_seq=next_seq + n_exp, families=int(st["families"]),
                bytes_crawled=0, wall_ms=0,
            )],
            STATE_SCHEMA,
            f"state-{it}",
        )
        return {"iteration": k, "mode": mode, "expired": n_ex, "pending": n_pending}

    # -------------------------------------------------------------------- run
    def run(self, seeds: DataFrame | None = None, max_iterations: int | None = None) -> list[dict]:
        """Run (or resume) the crawl until the frontier drains."""
        if seeds is not None and self.last_state() is None:
            self.seed(seeds)
        st = self.last_state()
        assert st is not None, "no checkpoint and no seeds given"
        if st["status"] == "complete":
            return []
        stats = []
        k = int(st["iteration"]) + 1
        limit = max_iterations or self.config.max_iterations
        for _ in range(limit):
            s = self.run_iteration(k)
            stats.append(s)
            if s["status"] == "complete":
                break
            k += 1
        return stats

    resume = run  # resuming IS running: the checkpoint decides where to start
