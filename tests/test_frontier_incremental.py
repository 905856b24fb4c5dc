"""Incremental frontier commits: each iteration's new rows are written once,
to seen, so per-iteration write volume scales with the iteration batch
(never the frontier); frontier_pending holds only compaction overwrites;
pending must be reconstructed from the newest overwrite, the seen rows
discovered after it and crawl_order alone; compaction must be
equivalence-preserving, and resume must work across the delta/compact
boundary."""

from __future__ import annotations

import os
import re

import pytest
from conftest import engine_snapshot

from crawler_service_spark.engine import CrawlConfig, CrawlEngine
from crawler_service_spark.fixtures import FixtureSpec, generate_fixture


def _engine(spark, paths, wd, **cfg) -> CrawlEngine:
    return CrawlEngine(
        spark,
        spark.read.parquet(paths["pages"]),
        spark.read.parquet(paths["robots_rules"]),
        wd,
        CrawlConfig(iteration_seconds=20.0, **cfg),
    )


def _pending_anti_join(df) -> tuple[int, int, str]:
    """(seen tail bound, crawl_order bound, join condition) of
    read_pending's anti-join."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    tail = re.search(r"\(discovered_iter#\d+ > (\d+)\)", plan)
    bound = re.search(r"\(iteration#\d+ > (\d+)\)", plan)
    cond = re.search(r"Join LeftAnti, \((.*)\)", plan)
    assert tail and bound and cond, plan
    return int(tail.group(1)), int(bound.group(1)), cond.group(1)


def test_delta_commits_scale_with_batch_not_frontier(spark, small_fixture, tmp_path):
    wd = str(tmp_path / "wd")
    eng = _engine(spark, small_fixture, wd)
    stats = eng.run(seeds=spark.read.parquet(small_fixture["seeds"]))
    assert stats[-1]["status"] == "complete"
    # crawl_order is the only record of what was scheduled
    assert sorted(os.listdir(wd)) == [
        "crawl_order", "crawl_state", "extraction_jobs", "fetch_failures",
        "frontier_pending", "pages_out", "seen",
    ]

    compactions, last_compaction = 0, 0
    for s in stats:
        k = s["iteration"]
        if k - 1 > last_compaction:
            # read_pending(k-1) takes the seen rows discovered, and subtracts
            # the crawl_order rows scheduled, after the last compaction,
            # keyed on seq alone (at k-1 == last compaction it is the bare
            # overwrite)
            tail, bound, cond = _pending_anti_join(eng.read_pending(k - 1))
            assert tail == bound == last_compaction, (k, tail, bound, last_compaction)
            assert re.fullmatch(r"seq#\d+L? = __sched_seq#\d+L?", cond), cond

        st = eng.catalog.read_commit("crawl_state", f"state-iter-{k}").collect()[0]
        if int(st["tombstones"]) == 0 and k > 1:
            compactions += 1
            last_compaction = k
            # compaction iteration: the write is the materialized live set
            commit = eng.catalog.read_commit("frontier_pending", f"pending-iter-{k}")
            assert commit.count() == int(st["frontier_pending"])
        else:
            # delta iteration: frontier_pending is not written at all
            assert not eng.catalog.has_commit("frontier_pending", f"pending-iter-{k}"), k
        # the new rows are written once, to seen: only this iteration's batch
        new = eng.catalog.read_commit("seen", f"seen-iter-{k}")
        assert new.count() == s["new_urls"], (
            f"iteration {k} wrote {new.count()} seen rows, batch was {s['new_urls']}"
        )
        # the scheduled record is only this iteration's batch
        order = eng.catalog.read_commit("crawl_order", f"order-iter-{k}")
        assert order.count() == s["scheduled"]
    # the reconstructed view drains to exactly zero
    assert eng.read_pending(stats[-1]["iteration"]).count() == 0
    # BFS crawls shrink at the end, so garbage must eventually cross the
    # ratio: the compaction path is actually exercised
    assert compactions >= 1


def test_compaction_ratio_equivalence(spark, small_fixture, tmp_path):
    """ratio=0 (compact every iteration == round-1 full-rewrite behavior),
    ratio=1 (default), and never-compact must produce identical crawls."""
    snaps = []
    for name, ratio in [("always", 0.0), ("default", 1.0), ("never", 1e18)]:
        eng = _engine(
            spark, small_fixture, str(tmp_path / f"wd-{name}"),
            frontier_compact_ratio=ratio,
        )
        eng.run(seeds=spark.read.parquet(small_fixture["seeds"]))
        snaps.append(engine_snapshot(eng))
    assert snaps[0] == snaps[1] == snaps[2]


@pytest.fixture(scope="module")
def compacting_crawl(spark, tmp_path_factory):
    """(fixture paths, frontier_pending overwrite iterations, snapshot) of an
    uninterrupted crawl that compacts often (ratio 0.25)."""
    root = tmp_path_factory.mktemp("compacting")
    paths = generate_fixture(
        FixtureSpec(n_pages=240, n_hosts=8, n_seeds=3, seed=11), str(root / "fix")
    )
    ref = _engine(spark, paths, str(root / "ref"), frontier_compact_ratio=0.25)
    ref.run(seeds=spark.read.parquet(paths["seeds"]))
    overwrites = [
        int(cid.rsplit("-", 1)[1])
        for cid, mode in ref.catalog.commit_modes("frontier_pending")
        if mode == "overwrite"
    ]
    return paths, overwrites, engine_snapshot(ref)


def test_resume_across_compaction_boundary(spark, tmp_path, compacting_crawl):
    """Kill the crawl right after a compacting iteration and resume: the final
    state must equal an uninterrupted run (snapshot reads + idempotent
    commits hold across the overwrite)."""
    paths, _overwrites, ref = compacting_crawl
    eng = _engine(spark, paths, str(tmp_path / "wd"), frontier_compact_ratio=0.25)
    eng.run(seeds=spark.read.parquet(paths["seeds"]), max_iterations=3)
    # fresh engine on the same workdir = process restart
    eng2 = _engine(spark, paths, str(tmp_path / "wd"), frontier_compact_ratio=0.25)
    eng2.resume()
    assert engine_snapshot(eng2) == ref


def test_resume_after_crash_past_a_compaction_overwrite(spark, tmp_path, compacting_crawl):
    """Crash a compacting iteration c after its frontier_pending overwrite
    commits but before anything else of c: the rerun's read_pending(c-1)
    must take the compaction point from its own snapshot, not from the
    overwrite that now lies past it."""
    paths, overwrites, ref = compacting_crawl
    # an earlier compaction (past the seed overwrite) makes the bound matter
    assert len(overwrites) >= 3 and overwrites[1] >= 1, overwrites
    c = overwrites[-1]

    wd = str(tmp_path / "wd")
    eng = _engine(spark, paths, wd, frontier_compact_ratio=0.25)
    eng.run(seeds=spark.read.parquet(paths["seeds"]), max_iterations=c)
    assert eng.catalog.commit_modes("frontier_pending")[-1] == (f"pending-iter-{c}", "overwrite")
    victims = 0
    for table in os.listdir(wd):
        if table == "frontier_pending":
            continue
        mdir = os.path.join(wd, table, "_manifests")
        for m in os.listdir(mdir):
            if m.endswith(f"-iter-{c}.json"):
                os.remove(os.path.join(mdir, m))
                victims += 1
    assert victims >= 5  # crawl_state among them

    eng2 = _engine(spark, paths, wd, frontier_compact_ratio=0.25)
    assert int(eng2.last_state()["iteration"]) == c - 1
    stats = eng2.resume()
    assert stats[0]["iteration"] == c
    assert engine_snapshot(eng2) == ref
