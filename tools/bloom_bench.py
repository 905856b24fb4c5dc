"""Seen-filter probe vs exact anti-join in the probe's favourable regime.

The probe can only pay where the seen set dwarfs a mostly-new batch, so this
tool builds that regime directly instead of crawling towards it: a synthetic
seen set of SEEN_ROWS ``(url_hash, url)`` rows and a BATCH-row candidate
batch of which NEW_SHARE were never seen. It calls ``dedup_new_urls`` on
them twice over:

- ``exact``: no filter, the exact int64 anti-join alone;
- ``probe``: blobs built by ``BloomSeenFilter.build`` from the seen set (the
  engine's engagement path, bits sized from the row count), then the probe
  plus the exact backstop for the "maybe seen" share.

Each sample writes the deduped batch to Spark's noop sink and counts it on
the same action; both sides must return exactly the never-seen rows. The
sides alternate, SAMPLES per side, and the raw host hash probe
(``bench.host_probe``) is taken before every pair, so host congestion sits
next to the numbers it could explain. Inputs are generated once from
``spark.range`` into ``.cache/bloom_bench`` and reused; the filter is
rebuilt (and its build timed) on every run.

Usage: PYTHONPATH=. python tools/bloom_bench.py   (one JSON line on stdout)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# the JVM takes what it needs up to this; the session default is cluster-sized
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")

from pyspark.sql import Observation
from pyspark.sql import functions as F

import bench
from crawler_service_spark.functions.urls import url_hash_col
from crawler_service_spark.operators.dedup import BloomSeenFilter, dedup_new_urls
from crawler_service_spark.session import get_spark
from crawler_service_spark.storage import ManifestCatalog

SEEN_ROWS = 20_000_000
BATCH = 200_000
NEW_SHARE = 0.95
SAMPLES = 3
CPUS = 4
CACHE = os.path.join(bench.REPO, ".cache", "bloom_bench")


def urls(ids):
    """Deterministic synthetic urls over 5,000 hosts: id -> (url_hash, url)."""
    url = F.concat(
        F.lit("https://h"), F.pmod(F.xxhash64("id"), F.lit(5000)).cast("string"),
        F.lit(".example.com/page/"), F.col("id").cast("string"),
    )
    return ids.select(url.alias("url")).withColumn("url_hash", url_hash_col("url"))


def inputs(spark) -> tuple[str, str]:
    """Seen set = ids [0, SEEN_ROWS); batch = never-seen ids past it plus
    seen ids spread evenly over the seen range."""
    seen_dir = os.path.join(CACHE, f"seen-{SEEN_ROWS}")
    batch_dir = os.path.join(CACHE, f"batch-{SEEN_ROWS}-{BATCH}-{NEW_SHARE}")
    if not os.path.exists(seen_dir):
        urls(spark.range(SEEN_ROWS)).write.parquet(seen_dir)
    if not os.path.exists(batch_dir):
        n_new = int(BATCH * NEW_SHARE)
        n_old = BATCH - n_new
        new = spark.range(SEEN_ROWS, SEEN_ROWS + n_new)
        old = spark.range(n_old).select((F.col("id") * (SEEN_ROWS // n_old)).alias("id"))
        urls(new.unionByName(old)).write.parquet(batch_dir)
    return seen_dir, batch_dir


def sample(seen, cand, bloom) -> dict:
    obs = Observation()
    out = dedup_new_urls(cand, seen, bloom, bloom_upto="bloom-0")
    t0 = time.monotonic()
    out.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return {"wall_s": round(time.monotonic() - t0, 2), "new_urls": obs.get["n"]}


def main() -> None:
    os.makedirs(CACHE, exist_ok=True)
    spark = get_spark("bloom-bench", cpus=CPUS, shuffle_partitions=4 * CPUS)
    seen_dir, batch_dir = inputs(spark)
    seen, cand = spark.read.parquet(seen_dir), spark.read.parquet(batch_dir)

    wd = os.path.join(CACHE, "filter")
    shutil.rmtree(wd, ignore_errors=True)  # the build is measured every run
    bloom = BloomSeenFilter(ManifestCatalog(wd, spark))
    t0 = time.monotonic()
    bloom.build(seen.select("url"), "bloom-0")
    build_s = round(time.monotonic() - t0, 2)
    blobs = bloom.catalog.read(bloom.TABLE, upto="bloom-0")
    filter_bytes = blobs.agg(F.sum(F.length("payload"))).collect()[0][0]
    flags = {
        r["maybe_seen"]: r["count"]
        for r in bloom.flag_maybe_seen(cand, upto="bloom-0").groupBy("maybe_seen").count().collect()
    }

    samples: dict[str, list] = {"exact": [], "probe": []}
    host = []
    for _ in range(SAMPLES):
        host.append(bench.host_probe(1, CPUS))
        samples["exact"].append(sample(seen, cand, None))
        samples["probe"].append(sample(seen, cand, bloom))
    spark.stop()

    n_new = int(BATCH * NEW_SHARE)
    assert all(s["new_urls"] == n_new for side in samples.values() for s in side), samples
    median = {side: statistics.median(s["wall_s"] for s in v) for side, v in samples.items()}
    print(json.dumps({
        "seen_rows": SEEN_ROWS, "batch": BATCH, "new_share": NEW_SHARE, "cpus": CPUS,
        "build_s": build_s,
        "filter_bytes": filter_bytes,
        "maybe_seen_share": round(flags.get(True, 0) / BATCH, 4),
        "host_probes": host, "samples": samples, "median_wall_s": median,
        "probe_vs_exact": round(median["exact"] / median["probe"], 3),
    }), flush=True)


if __name__ == "__main__":
    main()
