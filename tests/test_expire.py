"""engine.expire() — the re-crawl/TTL API over the seen set (VERDICT r2 #7).

Two modes, both committed as a pseudo-iteration so snapshot anchors and
resume() keep working untouched:

- recrawl: expired urls re-enter the frontier with fresh seqs and are
  re-scheduled EXACTLY once; the seen set keeps their rows so links to them
  keep deduping (no double-crawl).
- forget: seen rows deleted, and once the probe is engaged the seen filter
  is rebuilt from the kept rows, so the forgotten urls probe definitely
  new; the url is re-admitted exactly once by the standard dedup invariant
  when next linked.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.engine import CrawlConfig, CrawlEngine


def _build(spark, fixture, workdir, **cfg):
    return CrawlEngine(
        spark,
        spark.read.parquet(fixture["pages"]),
        spark.read.parquet(fixture["robots_rules"]),
        str(workdir),
        CrawlConfig(iteration_seconds=60.0, **cfg),
    )


@pytest.mark.parametrize("kind", ["exact", "bloom"])
def test_expire_recrawl_exactly_once(spark, tiny_fixture, tmp_path, kind):
    eng = _build(
        spark, tiny_fixture, tmp_path / kind,
        bloom_min_seen=None if kind == "exact" else 0,
    )
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    st0 = eng.last_state()
    assert st0["status"] == "complete"
    crawled = [r["url"] for r in eng.catalog.read("crawl_order").limit(50).collect()]
    expired = sorted(crawled)[:5]
    ex_df = spark.createDataFrame([(u,) for u in expired], "url string")

    res = eng.expire(ex_df, mode="recrawl")
    assert res["expired"] == 5 and res["pending"] == 5
    stats = eng.resume()
    assert stats and stats[-1]["status"] == "complete"

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


def test_expire_forget_readmits_exactly_once(spark, tiny_fixture, tmp_path):
    from crawler_service_spark.operators.dedup import dedup_new_urls

    eng = _build(spark, tiny_fixture, tmp_path / "forget", bloom_min_seen=0)
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

    # the filter rebuilt from the kept rows forgot them: probing the
    # expired urls flags definitely-new, so a future link re-admits them
    # through the normal dedup path exactly once
    from crawler_service_spark.functions.urls import url_hash_col

    assert eng.catalog.commit_modes("seen_filters")[-1] == (f"bloom-iter-{k + 1}", "overwrite")
    cand = ex_df.withColumn("url_hash", url_hash_col("url"))
    flagged = eng.bloom.flag_maybe_seen(cand, upto=f"bloom-iter-{k + 1}")
    assert flagged.filter(F.col("maybe_seen")).count() == 0
    kept = seen_after.select("url", "url_hash")
    assert eng.bloom.flag_maybe_seen(kept, upto=f"bloom-iter-{k + 1}") \
        .filter(~F.col("maybe_seen")).count() == 0
    admitted = dedup_new_urls(
        cand, seen_after, eng.bloom, bloom_upto=f"bloom-iter-{k + 1}"
    )
    assert sorted(r["url"] for r in admitted.collect()) == expired


def test_expire_unknown_urls_ignored(spark, tiny_fixture, tmp_path):
    eng = _build(spark, tiny_fixture, tmp_path / "unk", bloom_min_seen=0)
    eng.run(seeds=spark.read.parquet(tiny_fixture["seeds"]))
    res = eng.expire(
        spark.createDataFrame([("https://nowhere.example.com/x",)], "url string")
    )
    assert res["expired"] == 0 and res["pending"] == 0
    assert eng.last_state()["status"] == "complete"
