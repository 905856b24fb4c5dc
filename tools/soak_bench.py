"""sf1 soak of the crawl loop (VERDICT r3 item 7).

What no regular test exercises at depth: long frontier delta chains (the
seen rows discovered since the last pending overwrite, reconstructed as
overwrite + seen tail ANTI crawl_order on seq) across MULTIPLE
compactions, seen-filter LSM delta chains across
``compact_every`` rebuilds, and kill/resume deep into a crawl. Protocol:

- 1.2M-page fixture (10x the sf0.1 bench crawl), all URLs seeded as a
  depth-0 frontier, ``global_cap`` throttled so draining takes 100+
  iterations;
- the probe path is FORCED on (``bloom_min_seen=0``) so the seen-filter LSM
  read/probe chain is exercised across every fold;
- the run is KILLED at iteration ~55 (max_iterations), a NEW engine resumes
  from the catalog checkpoint and drains to completion;
- invariants checked at the end: every URL scheduled exactly once, seq
  strictly unique, iteration numbering continuous across the resume;
- curves recorded: wall/iteration and write-bytes/iteration, bucketed into
  deciles. FLAT curves = the LSM claims hold (per-iteration cost tracks the
  BATCH, not the accumulated frontier/seen/filter state).

Usage: PYTHONPATH=/root/repo python tools/soak_bench.py   (one JSON line)
Env: SPARK_GRAFT_SOAK_PAGES (default 1200000), SPARK_GRAFT_SOAK_CAP (12000).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ["PYTHONPATH"] = (
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    + os.pathsep
    + os.environ.get("PYTHONPATH", "")
)

from pyspark.sql import functions as F

from crawler_service_spark.engine import CrawlConfig, CrawlEngine
from crawler_service_spark.fixtures import FixtureSpec, generate_fixture
from crawler_service_spark.session import get_spark

N_PAGES = int(os.environ.get("SPARK_GRAFT_SOAK_PAGES", "1200000"))
CAP = int(os.environ.get("SPARK_GRAFT_SOAK_CAP", "12000"))
KILL_AT = 55
CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "soak")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _cfg() -> CrawlConfig:
    return CrawlConfig(
        iteration_seconds=200_000.0,
        global_cap=CAP,
        salt_lanes=8,
        eager_checkpoints=True,
        commit_files=8,
        bloom_min_seen=0,  # engage the probe from iteration 1
        max_iterations=10_000,
    )


def _engine(spark, paths, wd) -> CrawlEngine:
    return CrawlEngine(
        spark,
        pages=spark.read.parquet(paths["pages"]),
        robots=spark.read.parquet(paths["robots_rules"]),
        workdir=wd,
        config=_cfg(),
    )


def write_bytes_by_iteration(workdir: str) -> dict[int, int]:
    """Sum committed data-file bytes per iteration, from the commit-id naming
    convention (<table>/<data>/<commit>-iter-<k>/...)."""
    out: dict[int, int] = {}
    pat = re.compile(r"iter-(\d+)$")
    for table in os.listdir(workdir):
        data = os.path.join(workdir, table, "data")
        if not os.path.isdir(data):
            continue
        for commit in os.listdir(data):
            m = pat.search(commit)
            if not m:
                continue
            k = int(m.group(1))
            total = 0
            for root, _dirs, files in os.walk(os.path.join(data, commit)):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            out[k] = out.get(k, 0) + total
    return out


def deciles(series: list[float]) -> list[float]:
    n = len(series)
    return [
        round(sum(series[n * d // 10 : n * (d + 1) // 10]) / max(1, len(series[n * d // 10 : n * (d + 1) // 10])), 2)
        for d in range(10)
    ]


def main() -> None:
    os.makedirs(CACHE, exist_ok=True)
    spec = FixtureSpec(n_pages=N_PAGES, n_hosts=192, n_seeds=64, seed=42)
    paths = generate_fixture(spec, os.path.join(CACHE, f"fixture-{N_PAGES}"))
    wd = os.path.join(CACHE, "wd")
    shutil.rmtree(wd, ignore_errors=True)

    spark = get_spark("soak", cpus=32, shuffle_partitions=32)
    eng = _engine(spark, paths, wd)
    pages = spark.read.parquet(paths["pages"])
    seeds = pages.select(
        F.lit("soak").alias("crawl_id"), "url", F.xxhash64("url").alias("seed_order")
    )
    t0 = time.monotonic()
    stats1 = eng.run(seeds=seeds, max_iterations=KILL_AT)  # "kill" at ~55
    wall1 = time.monotonic() - t0
    assert stats1[-1]["status"] == "running", "soak must be killed mid-crawl"
    log(f"phase1: {len(stats1)} iterations, {wall1:.1f}s — killing and resuming")
    spark.stop()

    # resume on a FRESH session + engine, from the catalog checkpoint only
    spark = get_spark("soak-resume", cpus=32, shuffle_partitions=32)
    eng2 = _engine(spark, paths, wd)
    t1 = time.monotonic()
    stats2 = eng2.resume()
    wall2 = time.monotonic() - t1
    assert stats2[-1]["status"] == "complete", "resume must drain the frontier"

    # invariants: exactly-once scheduling, unique seq, continuous iterations
    order = eng2.catalog.read("crawl_order")
    n_rows = order.count()
    n_urls = order.select("url").distinct().count()
    n_seqs = order.select("seq").distinct().count()
    assert n_rows == n_urls == n_seqs, (n_rows, n_urls, n_seqs)
    iters = sorted(
        r["iteration"] for r in order.select("iteration").distinct().collect()
    )
    assert iters == list(range(1, iters[-1] + 1)), "iteration gap across resume"

    walls = [s["wall_ms"] / 1000.0 for s in stats1 + stats2]
    wb = write_bytes_by_iteration(wd)
    wb_series = [wb.get(k, 0) / 1e6 for k in range(1, len(walls) + 1)]
    result = {
        "n_pages": N_PAGES,
        "cap_per_iter": CAP,
        "iterations": len(walls),
        "killed_at": len(stats1),
        "resumed_ok": True,
        "urls_scheduled": n_rows,
        "wall_sec_total": round(wall1 + wall2, 1),
        "wall_per_iter_deciles_s": deciles(walls),
        "write_mb_per_iter_deciles": deciles(wb_series),
    }
    spark.stop()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
