"""End-to-end parity: Spark engine ≡ pure-Python oracle on the same fixture.

The three BASELINE.json correctness gates:
  (a) identical crawl ordering,
  (b) identical final URL-seen set,
  (c) byte-identical extracted text per url.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from crawler_service_spark.engine import CrawlConfig, CrawlEngine
from tests.oracle import load_fixture, oracle_crawl

ITER_S = 10.0
CAP = None


@pytest.fixture(scope="module")
def oracle_result(small_fixture):
    pages, seeds, robots = load_fixture(small_fixture)
    return oracle_crawl(pages, seeds, robots, iteration_seconds=ITER_S, global_cap=CAP)


@pytest.fixture(scope="module")
def engine_run(spark, small_fixture, tmp_path_factory):
    wd = tmp_path_factory.mktemp("crawl-wd")
    eng = CrawlEngine(
        spark,
        pages=spark.read.parquet(small_fixture["pages"]),
        robots=spark.read.parquet(small_fixture["robots_rules"]),
        workdir=str(wd),
        # bloom_min_seen=0: exercise the bloom-probe fast path end-to-end even
        # at test scale (production default engages it only at large seen sets);
        # commit_files=8: the bounded commit path the benchmarks and soak run
        config=CrawlConfig(
            iteration_seconds=ITER_S, global_cap=CAP, max_iterations=200, bloom_min_seen=0,
            commit_files=8,
        ),
    )
    stats = eng.run(seeds=spark.read.parquet(small_fixture["seeds"]))
    return eng, stats


def test_crawl_completes(engine_run):
    _, stats = engine_run
    assert stats and stats[-1]["status"] == "complete"


def test_seen_set_matches_oracle(engine_run, oracle_result):
    eng, _ = engine_run
    seen = {r["url"] for r in eng.catalog.read("seen").select("url").collect()}
    assert seen == oracle_result.seen


def test_crawl_order_matches_oracle(engine_run, oracle_result):
    eng, _ = engine_run
    rows = (
        eng.catalog.read("crawl_order")
        .orderBy("iteration", "depth", F.desc("priority"), "seq")
        .select("iteration", "seq", "depth", "url")
        .collect()
    )
    got = [(r["iteration"], r["seq"], r["depth"], r["url"]) for r in rows]
    assert got == oracle_result.order


def test_extracted_text_byte_identical(engine_run, small_fixture, oracle_result):
    eng, _ = engine_run
    # engine text vs the stored ground-truth text column, per url
    stored = pq.read_table(small_fixture["pages"], columns=["url", "text"])
    truth = dict(zip(stored["url"].to_pylist(), stored["text"].to_pylist()))
    out = eng.catalog.read("pages_out").select("url", "text").collect()
    assert len(out) > 0
    for r in out:
        assert r["text"] == truth[r["url"]], r["url"]
    # and the oracle's independent extraction agrees with the stored truth
    for url, txt in oracle_result.texts.items():
        assert txt == truth[url]


def test_failures_match_oracle(engine_run, oracle_result):
    eng, _ = engine_run
    f = eng.catalog.read("fetch_failures")
    got = {(r["iteration"], r["url"]) for r in f.collect()} if f is not None else set()
    assert got == set(oracle_result.failures)


def test_counters_consistent(engine_run, oracle_result):
    eng, _ = engine_run
    st = eng.last_state()
    assert st["status"] == "complete"
    assert st["next_seq"] == len(oracle_result.seen)
    total_sched = (
        eng.catalog.read("crawl_state").agg(F.sum("scheduled")).collect()[0][0]
    )
    assert total_sched == len(oracle_result.order)


def test_small_iteration_commits_write_one_file(engine_run):
    """``commit_files`` is an upper bound sized by bytes: on this fixture
    every per-iteration table commit is a few hundred rows at most, so each
    writes exactly one parquet data file, not ``commit_files`` of them.
    frontier_pending's per-iteration commits are its compaction overwrites."""
    eng, stats = engine_run
    assert len(stats) > 1
    root = eng.catalog.root
    for table in (
        "crawl_order", "pages_out", "fetch_failures", "extraction_jobs", "seen",
        "frontier_pending",
    ):
        # the iteration-0 commits come from seed(), which passes no bound
        per_iter = [c for c in eng.catalog.commits(table) if not c.endswith("-iter-0")]
        assert per_iter, table
        for cid in per_iter:
            files = [
                f for f in os.listdir(os.path.join(root, table, "data", cid))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (table, cid, files)


def test_commit_jobs_read_only_finished_checkpoints(spark, tiny_fixture, tmp_path, monkeypatch):
    """The per-iteration commits run as concurrent Spark jobs. A lazy
    ``localCheckpoint`` they read is finished (marked checkpointed) inside
    whichever of those jobs ends first, while the scheduler still plans the
    others over the same RDD; a suite run hung in that window. So every
    checkpoint a commit reads must be finished before the commits start.
    Here the commits run one at a time, each checked before it writes, so
    no earlier commit can finish a checkpoint for a later one. Compacting
    every iteration with the probe engaged puts the most commits on the
    checkpoints; the last iteration has no new urls."""
    from concurrent.futures import Future

    from crawler_service_spark import engine as engine_mod
    from crawler_service_spark.storage import ManifestCatalog

    in_pool, checked, unfinished = [False], [], []

    class SerialPool:
        def __init__(self, max_workers=None):
            pass

        def __enter__(self):
            in_pool[0] = True
            return self

        def __exit__(self, *exc):
            in_pool[0] = False

        def submit(self, fn):
            fut = Future()
            try:
                fut.set_result(fn())
            except BaseException as e:  # noqa: BLE001 - re-raised by result()
                fut.set_exception(e)
            return fut

    real_commit = ManifestCatalog.commit

    def checked_commit(self, table, df, commit_id, *args, **kwargs):
        if in_pool[0]:
            checked.append(commit_id)
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() != "LogicalRDD":
                    continue
                rdd = leaf.rdd()  # marked for checkpointing, not yet finished
                if rdd.checkpointData().isDefined() and not rdd.isCheckpointed():
                    unfinished.append(commit_id)
        return real_commit(self, table, df, commit_id, *args, **kwargs)

    monkeypatch.setattr(engine_mod, "ThreadPoolExecutor", SerialPool)
    monkeypatch.setattr(ManifestCatalog, "commit", checked_commit)
    eng = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        spark.read.parquet(tiny_fixture["robots_rules"]),
        str(tmp_path / "wd"),
        CrawlConfig(iteration_seconds=60.0, frontier_compact_ratio=0, bloom_min_seen=0),
    )
    stats = eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    assert stats[-1]["status"] == "complete" and stats[-1]["new_urls"] == 0
    assert any(c.startswith("pending-") for c in checked), checked
    assert unfinished == []


def test_family_too_large_dead_letter(spark, tiny_fixture, tmp_path):
    """F7: families above max_family_files are dead-lettered with a reason
    code and never emitted as extraction jobs (ref skip-on-502,
    crawlers/globus_base_preserved.py:294-297)."""
    from pyspark.sql import functions as F

    from crawler_service_spark.engine import CrawlConfig, CrawlEngine

    eng = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        spark.read.parquet(tiny_fixture["robots_rules"]),
        str(tmp_path / "wd"),
        CrawlConfig(iteration_seconds=60.0, max_family_files=1),
    )
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    jobs = eng.catalog.read("extraction_jobs")
    assert jobs.filter(F.size("files") > 1).count() == 0
    dead = eng.catalog.read("fetch_failures").filter(
        F.col("reason") == "family_too_large"
    )
    assert dead.count() > 0
    assert dead.filter(F.col("url").isNull()).count() == 0

    # uncapped twin: every family the capped run dropped exists there
    ref = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        spark.read.parquet(tiny_fixture["robots_rules"]),
        str(tmp_path / "ref"),
        CrawlConfig(iteration_seconds=60.0),
    )
    ref.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    all_fams = ref.catalog.read("extraction_jobs")
    assert all_fams.filter(F.size("files") > 1).count() == dead.count()


def test_host_report_matches_oracle(engine_run, oracle_result):
    """crawl_host_report rolls the catalog tables into the per-host ops
    table; every column must equal a literal Python walk of the oracle's
    order/seen/failure records."""
    from crawler_service_spark.functions.urls import host_py
    from crawler_service_spark.operators.reporting import crawl_host_report

    eng, _ = engine_run
    want: dict[str, list] = {}
    for url in oracle_result.seen:
        h = host_py(url)
        want.setdefault(h, [0, 0, 0, None, None, None])[0] += 1
    for it, _seq, depth, url in oracle_result.order:
        r = want[host_py(url)]
        r[1] += 1
        r[3] = depth if r[3] is None else max(r[3], depth)
        r[4] = it if r[4] is None else min(r[4], it)
        r[5] = it if r[5] is None else max(r[5], it)
    for _it, url in oracle_result.failures:
        want[host_py(url)][2] += 1

    got = {
        r["host"]: [
            r["n_discovered"], r["n_scheduled"], r["n_failed"],
            r["depth_max"], r["first_iter"], r["last_iter"],
        ]
        for r in crawl_host_report(eng.catalog).collect()
    }
    assert got == want
    # sanity on the fixture: multiple hosts, at least one failure rolled up
    assert len(got) > 1
    assert sum(v[2] for v in got.values()) == len(oracle_result.failures)


def test_host_report_survives_empty_tables(spark, tmp_path):
    """An expired/forgotten crawl overwrites seen/crawl_order with EMPTY
    commits (no parquet part files) — the report must read them through its
    explicit schemas in a fresh session instead of dying on inference; a
    catalog with no crawl at all raises the documented ValueError."""
    from crawler_service_spark.engine import FRONTIER_DDL, ORDER_DDL
    from crawler_service_spark.operators.reporting import crawl_host_report
    from crawler_service_spark.storage import ManifestCatalog

    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    with pytest.raises(ValueError, match="no crawl"):
        crawl_host_report(cat)
    cat.commit(
        "seen", spark.createDataFrame([], FRONTIER_DDL),
        "seen-iter-0", mode="overwrite",
    )
    cat.commit(
        "crawl_order", spark.createDataFrame([], ORDER_DDL),
        "order-iter-0", mode="overwrite",
    )
    # fresh instance: no cached schemas, the explicit DDLs must carry it
    fresh = ManifestCatalog(str(tmp_path / "wd"), spark)
    assert crawl_host_report(fresh).count() == 0
