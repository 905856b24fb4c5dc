"""Resumability: kill after iteration k (or mid-iteration), resume, and the
final state is identical to an uninterrupted run (SURVEY.md §5.2, T5).

The engine's checkpoint is the crawl_state commit written LAST in each
iteration; every data commit is idempotent by commit-id. So:
- stopping between iterations and resuming re-reads the checkpoint;
- crashing mid-iteration (some tables committed for iter k, crawl_state not)
  re-runs iteration k; already-present commits are skipped, counters are
  recovered from the committed snapshots, and the state converges.
"""

from __future__ import annotations

import os

import pytest

from crawler_service_spark.engine import CrawlConfig, CrawlEngine
from tests.conftest import engine_snapshot

ITER_S = 4.0  # small per-host budget => the tiny fixture needs several iterations


def make_engine(spark, fixture, wd, **cfg):
    return CrawlEngine(
        spark,
        pages=spark.read.parquet(fixture["pages"]),
        robots=spark.read.parquet(fixture["robots_rules"]),
        workdir=str(wd),
        config=CrawlConfig(iteration_seconds=ITER_S, max_iterations=200, **cfg),
    )


@pytest.fixture(scope="module")
def uninterrupted(spark, tiny_fixture, tmp_path_factory):
    wd = tmp_path_factory.mktemp("wd-full")
    eng = make_engine(spark, tiny_fixture, wd)
    stats = eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    assert stats[-1]["status"] == "complete"
    assert len(stats) >= 4, "fixture too easy: resume test needs several iterations"
    return engine_snapshot(eng)


def test_resume_after_stop(spark, tiny_fixture, tmp_path_factory, uninterrupted):
    wd = tmp_path_factory.mktemp("wd-stop")
    eng1 = make_engine(spark, tiny_fixture, wd)
    stats1 = eng1.run(seeds=spark.read.parquet(tiny_fixture["seeds"]), max_iterations=2)
    assert stats1[-1]["status"] == "running"

    # brand-new engine object over the same workdir: resume from the checkpoint
    eng2 = make_engine(spark, tiny_fixture, wd)
    stats2 = eng2.resume()
    assert stats2[-1]["status"] == "complete"
    assert stats2[0]["iteration"] == 3
    assert engine_snapshot(eng2) == uninterrupted


def test_resume_after_mid_iteration_crash(
    spark, tiny_fixture, tmp_path_factory, uninterrupted
):
    wd = tmp_path_factory.mktemp("wd-crash")
    eng1 = make_engine(spark, tiny_fixture, wd)
    eng1.run(seeds=spark.read.parquet(tiny_fixture["seeds"]), max_iterations=3)

    # simulate a crash between the data commits of iteration 3 and its
    # crawl_state checkpoint: drop the state manifest, keep all data commits
    mdir = os.path.join(str(wd), "crawl_state", "_manifests")
    victims = [m for m in os.listdir(mdir) if m.endswith("-state-iter-3.json")]
    assert victims
    for v in victims:
        os.remove(os.path.join(mdir, v))

    eng2 = make_engine(spark, tiny_fixture, wd)
    st = eng2.last_state()
    assert int(st["iteration"]) == 2  # checkpoint says iter 3 never happened
    stats = eng2.resume()
    assert stats[0]["iteration"] == 3  # re-ran it idempotently
    assert stats[-1]["status"] == "complete"
    assert engine_snapshot(eng2) == uninterrupted


def test_resume_on_complete_is_noop(spark, tiny_fixture, tmp_path_factory, uninterrupted):
    wd = tmp_path_factory.mktemp("wd-noop")
    eng = make_engine(spark, tiny_fixture, wd)
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    before = engine_snapshot(eng)
    assert eng.resume() == []
    assert engine_snapshot(eng) == before == uninterrupted
