"""engine.expire() — the re-crawl/TTL API over the seen set (VERDICT r2 #7).

Two modes, both committed as a pseudo-iteration so snapshot anchors and
resume() keep working untouched:

- recrawl: expired urls re-enter the frontier with fresh seqs and are
  re-scheduled EXACTLY once; the seen set keeps their rows so links to them
  keep deduping (no double-crawl).
- forget: seen rows deleted, so the exact dedup admits the url again,
  exactly once, when it is next linked.

A crash inside expire() must not be resumed as a crawl iteration.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.engine import CrawlConfig, CrawlEngine
from crawler_service_spark.storage import ManifestCatalog
from tests.conftest import engine_snapshot


def _build(spark, fixture, workdir, **cfg):
    return CrawlEngine(
        spark,
        spark.read.parquet(fixture["pages"]),
        spark.read.parquet(fixture["robots_rules"]),
        str(workdir),
        CrawlConfig(iteration_seconds=60.0, **cfg),
    )


_RECRAWL_CFG = {
    "exact": dict(),
    # no compaction ever: every earlier scheduling of the expired urls is
    # still in the chain read_pending subtracts, so only their fresh seqs
    # keep the re-entered rows live
    "never_compact": dict(frontier_compact_ratio=1e18),
}


@pytest.mark.parametrize("kind", list(_RECRAWL_CFG))
def test_expire_recrawl_exactly_once(spark, tiny_fixture, tmp_path, kind):
    eng = _build(spark, tiny_fixture, tmp_path / kind, **_RECRAWL_CFG[kind])
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    st0 = eng.last_state()
    assert st0["status"] == "complete"
    crawled = [r["url"] for r in eng.catalog.read("crawl_order").limit(50).collect()]
    expired = sorted(crawled)[:5]
    ex_df = spark.createDataFrame([(u,) for u in expired], "url string")

    res = eng.expire(ex_df, mode="recrawl")
    assert res["expired"] == 5 and res["pending"] == 5
    # bounded: a frontier that keeps the expired rows but never schedules
    # them would otherwise spin through empty iterations
    stats = eng.resume(max_iterations=5)
    assert stats and stats[0]["scheduled"] == 5
    assert stats[-1]["status"] == "complete"

    order = eng.catalog.read("crawl_order")
    # each expired url crawled exactly twice (original + one re-crawl)...
    per_url = {
        r["url"]: r["n"]
        for r in order.groupBy("url").agg(F.count("*").alias("n")).collect()
    }
    for u in expired:
        assert per_url[u] == 2, f"{u} crawled {per_url[u]}x"
    # ...and nothing else was re-crawled or newly admitted
    assert all(n == 1 for u, n in per_url.items() if u not in expired)
    # fresh seqs are unique across the whole order
    seqs = [r["seq"] for r in order.select("seq").collect()]
    assert len(seqs) == len(set(seqs))
    # seen kept exactly one row per url (no duplicate admissions)
    seen_counts = (
        eng.catalog.read("seen").groupBy("url").agg(F.count("*").alias("n"))
    )
    assert seen_counts.filter("n > 1").count() == 0
    assert not eng.catalog.exists("seen_filters")


def test_expire_forget_readmits_exactly_once(spark, tiny_fixture, tmp_path):
    from crawler_service_spark.functions.urls import url_hash_col
    from crawler_service_spark.operators.dedup import dedup_new_urls

    eng = _build(spark, tiny_fixture, tmp_path / "forget")
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    k = int(eng.last_state()["iteration"])
    all_seen = sorted(r["url"] for r in eng.catalog.read("seen").select("url").collect())
    expired = all_seen[:5]
    ex_df = spark.createDataFrame([(u,) for u in expired], "url string")

    res = eng.expire(ex_df, mode="forget")
    assert res["expired"] == 5 and res["pending"] == 0

    seen_after = eng.catalog.read("seen", upto=f"seen-iter-{k + 1}")
    left = sorted(r["url"] for r in seen_after.select("url").collect())
    assert left == [u for u in all_seen if u not in expired]

    # links to every url ever seen: the exact dedup against the forget
    # snapshot admits exactly the forgotten ones, so a future link
    # re-admits each of them once
    cand = spark.createDataFrame([(u,) for u in all_seen], "url string").withColumn(
        "url_hash", url_hash_col("url")
    )
    admitted = dedup_new_urls(cand, seen_after)
    assert sorted(r["url"] for r in admitted.collect()) == expired
    assert not eng.catalog.exists("seen_filters")


def test_expire_forget_keeps_live_frontier(spark, tiny_fixture, tmp_path):
    """Forgetting urls that are still pending deletes their seen rows, the
    log read_pending takes new pending rows from: the pending overwrite
    must keep them live, and resume must still schedule them."""
    eng = _build(spark, tiny_fixture, tmp_path / "live")
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]), max_iterations=1)
    st = eng.last_state()
    k = int(st["iteration"])
    assert st["status"] == "running"
    live = sorted((r["url"], r["seq"]) for r in eng.read_pending(k).collect())
    assert len(live) >= 3
    forgotten = [u for u, _seq in live[:3]]

    res = eng.expire(
        spark.createDataFrame([(u,) for u in forgotten], "url string"), mode="forget"
    )
    assert res["expired"] == 3 and res["pending"] == int(st["frontier_pending"])
    assert sorted((r["url"], r["seq"]) for r in eng.read_pending(k + 1).collect()) == live

    # a drifted frontier would trip the compaction's accounting assert
    stats = eng.resume()
    assert stats[-1]["status"] == "complete"
    after = {
        r["url"]
        for r in eng.catalog.read("crawl_order").filter(F.col("iteration") > k + 1).collect()
    }
    assert set(forgotten) <= after


def test_expire_unknown_urls_ignored(spark, tiny_fixture, tmp_path):
    eng = _build(spark, tiny_fixture, tmp_path / "unk")
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    res = eng.expire(
        spark.createDataFrame([("https://nowhere.example.com/x",)], "url string")
    )
    assert res["expired"] == 0 and res["pending"] == 0
    assert eng.last_state()["status"] == "complete"


def _manifests(workdir):
    return sorted(
        (table, m)
        for table in os.listdir(workdir)
        if os.path.isdir(os.path.join(workdir, table, "_manifests"))
        for m in os.listdir(os.path.join(workdir, table, "_manifests"))
    )


@pytest.mark.parametrize("mode", ["recrawl", "forget"])
def test_expire_crash_before_its_state_row_is_not_resumed(
    spark, tiny_fixture, tmp_path, monkeypatch, mode
):
    """expire() dies after its seen and pending commits, before its state
    row. resume() must not run that pseudo-iteration as a crawl iteration
    (its idempotent commits would skip the ids expire wrote, and the crawl
    would end "complete" with most of the frontier lost): it either reaches
    the uninterrupted expire+resume state, or raises before writing
    anything, and then expire() with the same urls completes it."""
    seeds = spark.read.parquet(tiny_fixture["seeds"])

    def after_one_iteration(name):
        eng = _build(spark, tiny_fixture, tmp_path / name)
        eng.run(seeds=seeds, max_iterations=1)
        assert eng.last_state()["status"] == "running"
        return eng

    ref = after_one_iteration("ref")
    k = int(ref.last_state()["iteration"]) + 1
    urls = sorted(r["url"] for r in ref.catalog.read("seen").select("url").collect())[:3]
    ex_df = spark.createDataFrame([(u,) for u in urls], "url string")
    ref.expire(ex_df, mode=mode)
    ref.resume()
    want = engine_snapshot(ref)

    eng = after_one_iteration("crash")
    real_commit = ManifestCatalog.commit

    def crashing_commit(self, table, df, commit_id, *args, **kwargs):
        if commit_id == f"order-iter-{k}":
            raise RuntimeError("injected crash")
        return real_commit(self, table, df, commit_id, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ManifestCatalog, "commit", crashing_commit)
        with pytest.raises(RuntimeError, match="injected crash"):
            eng.expire(ex_df, mode=mode)
    wd = str(tmp_path / "crash")
    assert {"seen", "frontier_pending"} <= {t for t, m in _manifests(wd) if f"-iter-{k}." in m}
    before = _manifests(wd)

    eng2 = _build(spark, tiny_fixture, wd)
    try:
        eng2.resume()
    except RuntimeError:
        assert _manifests(wd) == before, "resume wrote commits before refusing"
        eng2.expire(ex_df, mode=mode)
        eng2.resume()
    assert engine_snapshot(eng2) == want
