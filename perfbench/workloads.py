"""The two workloads: a BFS crawl through ``CrawlEngine`` and a pass over
corpus queries from ``__spark_entry__.queries()``.

Each workload is a closed loop: one Spark driver process runs one crawl
iteration or one query at a time on ``local[4]``. Both follow the same
shape: ``prepare`` makes the seeded inputs (outside every timing), ``run``
sets up three times (the first in a cold JVM), times a fixed unit of work,
repeats it only while another fits in the measuring time, and checks the
outputs of every unit.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from host import tree_cpu_s
from tracer import Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
CORPUS = os.path.join(HERE, "data", "sf0.001")
CORPUS_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@dataclass
class Run:
    """What a workload hands back to ``run.py``."""

    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)  # process-tree CPU per operation
    work: float = 0.0  # URLs (crawl) or queries completed in the timed units
    work_s: float = 0.0  # wall of the timed units
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    root: Span | None = None  # first timed unit, when traced
    setup: Span | None = None  # the set-up right before it
    facts: dict = field(default_factory=dict)  # per-layer numbers the workload observes
    detail: dict = field(default_factory=dict)


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else nullcontext()


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# --------------------------------------------------------------------------- #
# bfs_crawl
# --------------------------------------------------------------------------- #

BFS_SIZES = {
    # pages, seed URLs, BFS iterations per timed crawl
    "full": dict(n_pages=20_000, n_seeds=256, iterations=2),
    "tiny": dict(n_pages=300, n_seeds=16, iterations=2),
}
BFS_HOSTS = 192
# A tight per-host budget (crawl delays of 0.5-3 s give 3-20 pages per
# host per iteration), so the largest Zipf hosts carry pending URLs over.
BFS_ITERATION_SECONDS = 10.0
# Politeness rules come from one fixed seed, so every workload seed sees the
# same per-host budgets; only the pages and the link graph vary.
ROBOTS_SEED = 42


def bfs_prepare(seed: int, size: str) -> dict[str, str]:
    from crawler_service_spark.fixtures import FixtureSpec, generate_fixture

    n, n_seeds = BFS_SIZES[size]["n_pages"], BFS_SIZES[size]["n_seeds"]
    spec = FixtureSpec(n_pages=n, n_hosts=BFS_HOSTS, n_seeds=n_seeds, seed=seed)
    paths = generate_fixture(spec, os.path.join(CACHE, f"bfs-{n}-{n_seeds}-s{seed}"))
    rules = FixtureSpec(n_pages=BFS_HOSTS, n_hosts=BFS_HOSTS, n_seeds=1, seed=ROBOTS_SEED)
    paths["robots_rules"] = generate_fixture(rules, os.path.join(CACHE, "robots"))["robots_rules"]
    return paths


def _bfs_config():
    from crawler_service_spark.engine import CrawlConfig

    # bench.py's crawl settings, with the tighter politeness window
    return CrawlConfig(iteration_seconds=BFS_ITERATION_SECONDS, salt_lanes=8, commit_files=8)


def _candidates_per_iteration(order, pages, robots) -> dict[int, int]:
    """Distinct robots-allowed outlink URLs each oracle iteration extracts
    (the dedup layer's input), for the admit share."""
    from oracle import ABS_RE, HREF_RE

    from crawler_service_spark.functions.urls import canonicalize_url_py, host_py, path_py

    disallow = [(r["host"], r["path_prefix"]) for r in robots if not r["allow"] and r["path_prefix"]]
    out: dict[int, set[str]] = {}
    for k, _seq, _depth, url in order:
        html = pages.get(url)
        for href in HREF_RE.findall(html.decode("utf-8")) if html else []:
            c = canonicalize_url_py(href)
            if ABS_RE.match(c) and not any(
                h == host_py(c) and path_py(c).startswith(p) for h, p in disallow
            ):
                out.setdefault(k, set()).add(c)
    return {k: len(v) for k, v in out.items()}


def _check_crawl(eng, paths, fixture, n_iter: int) -> tuple[list[str], dict[int, int]]:
    """Compare the crawl with the pure-Python oracle on the same input and
    budget; return failing iterations (with causes) and candidate counts."""
    from oracle import oracle_crawl

    pages, seeds, robots, stored_text = fixture
    o = oracle_crawl(pages, seeds, robots, iteration_seconds=BFS_ITERATION_SECONDS, max_iterations=n_iter)
    cat = eng.catalog
    order = sorted(tuple(r) for r in cat.read("crawl_order").select("iteration", "seq", "depth", "url").collect())
    fails = sorted(tuple(r) for r in cat.read("fetch_failures").select("iteration", "url").collect())
    texts = {r["url"]: (r["iteration"], r["text"]) for r in cat.read("pages_out").select("iteration", "url", "text").collect()}
    seen = {r["url"] for r in cat.read("seen").select("url").collect()}
    bad: list[str] = []
    for k in range(1, n_iter + 1):
        if [r for r in order if r[0] == k] != sorted(r for r in o.order if r[0] == k):
            bad.append(f"iteration {k}: crawl order differs from the oracle")
        elif [r for r in fails if r[0] == k] != sorted(r for r in o.failures if r[0] == k):
            bad.append(f"iteration {k}: fetch failures differ from the oracle")
        elif any(
            t != stored_text.get(u) or t != o.texts.get(u) for u, (it, t) in texts.items() if it == k
        ):
            bad.append(f"iteration {k}: extracted text differs from the stored text")
    if seen != o.seen and not any(b.startswith(f"iteration {n_iter}:") for b in bad):
        bad.append(f"iteration {n_iter}: seen set differs from the oracle")
    return bad, _candidates_per_iteration(o.order, pages, robots)


def bfs_run(spark, paths, seconds: float, size: str, tracer: Tracer | None, log) -> Run:
    from oracle import load_fixture

    from crawler_service_spark.engine import CrawlEngine

    cfg = _bfs_config()
    sizes = BFS_SIZES[size]
    pages, seeds, robots = load_fixture(paths)
    stored_text = dict(
        zip(*(pq.read_table(paths["pages"], columns=["url", "text"])[c].to_pylist() for c in ("url", "text")))
    )
    fixture = (pages, seeds, robots, stored_text)
    res = Run()
    n_setup = 0

    def setup():
        nonlocal n_setup
        wd = os.path.join(OUT, "work", f"bfs-{n_setup}")
        n_setup += 1
        shutil.rmtree(wd, ignore_errors=True)
        with _span(tracer, "bench.setup") as sp:
            t0 = time.perf_counter()
            eng = CrawlEngine(
                spark, spark.read.parquet(paths["pages"]), spark.read.parquet(paths["robots_rules"]), wd, cfg
            )
            eng.seed(spark.read.parquet(paths["seeds"]))
            res.setup_s.append(time.perf_counter() - t0)
        return eng, wd, sp

    def release(eng, wd):
        for df in (eng.pages, eng.robots, eng.budgets):
            df.unpersist()
        shutil.rmtree(wd, ignore_errors=True)

    # the first set-up runs in a cold JVM; the timed crawl starts after it
    release(*setup()[:2])

    start = time.perf_counter()
    units = []
    while True:
        eng, wd, setup_span = setup()
        walls, stats, pending_before = [], [], []
        unit_span = None
        try:
            with _span(tracer, "bench.unit") as unit_span:
                for _ in range(sizes["iterations"]):
                    pending_before.append(int(eng.last_state()["frontier_pending"]))
                    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
                    s = eng.run(max_iterations=1)
                    walls.append(time.perf_counter() - t0)
                    res.op_cpu_s.append(tree_cpu_s(os.getpid()) - c0)
                    stats.extend(s)
                    res.attempted += 1
        except Exception:
            res.attempted += 1
            res.failures.append(f"iteration {len(walls) + 1}: raised\n{traceback.format_exc()}")
            release(eng, wd)
            break
        bad, cand = _check_crawl(eng, paths, fixture, len(stats))
        res.failures += bad
        urls = sum(s["scheduled"] + s["new_urls"] for s in stats)
        res.op_s += walls
        res.work += urls
        res.work_s += sum(walls)
        if not units:
            res.root, res.setup = unit_span, setup_span
            files, nbytes = _dir_usage(wd)
            scheduled = sum(s["scheduled"] for s in stats)
            res.facts = {
                "catalog.files_written": files,
                "catalog.bytes_written": nbytes,
                "catalog.bytes_per_url": nbytes / scheduled,
                "dedup.seen_filter_bytes": _dir_usage(os.path.join(wd, "seen_filters"))[1],
                "dedup.admit_share": sum(s["new_urls"] for s in stats) / max(1, sum(cand.values())),
                "politeness.scheduled_share": scheduled / sum(pending_before),
                "trace.throughput_per_s": urls / sum(walls),
            }
        units.append({"iterations": stats, "walls_s": walls})
        release(eng, wd)
        elapsed = time.perf_counter() - start
        log(f"bfs_crawl unit {len(units)}: {urls} urls in {sum(walls):.2f}s ({elapsed:.1f}s elapsed)")
        if elapsed + sum(walls) > seconds:
            break
    # at least three set-ups, so their median is not the cold one
    while len(res.setup_s) < 3:
        release(*setup()[:2])
    res.detail = {"units": units, "config": {**sizes, "iteration_seconds": BFS_ITERATION_SECONDS}}
    return res


# --------------------------------------------------------------------------- #
# corpus_queries
# --------------------------------------------------------------------------- #

WARMUP_QUERY = "q1_pricing_summary"
QUERY_SIZES = {"full": None, "tiny": ["pipeline_sample_mix", "sessionize_events"]}


def queries_prepare(seed: int, size: str) -> list[str]:
    """The seeded order of the query set (the tables are fixed)."""
    from metrics import QUERY_MODULE

    names = list(QUERY_SIZES[size] or QUERY_MODULE)
    random.Random(seed).shuffle(names)
    return names


def _check_queries(results: dict[str, tuple[list, list[str]]]) -> list[str]:
    """Rows must equal the DuckDB twin's, normalized as tools/parity_check.py does."""
    import duckdb
    from parity_check import rowset

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in CORPUS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{CORPUS}/{t}.parquet'")
        bad = []
        for name, (rows, cols) in results.items():
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            scols = [c.lower() for c in cols]
            if sorted(scols) != sorted(dcols) or rowset(rows, scols) != rowset(rel.fetchall(), dcols):
                bad.append(f"{name}: rows differ from the DuckDB oracle")
        return bad
    finally:
        con.close()


def queries_run(new_session, order: list[str], seconds: float, tracer_for, log) -> Run:
    """``new_session()`` starts a SparkSession (stopping any earlier one);
    ``tracer_for(spark)`` returns the tracer to use with it, or None."""
    import __spark_entry__ as entry

    from metrics import QUERY_MODULE

    qs = entry.queries()
    res = Run()
    # set-up = session start + the warm-up query; the JVM stays up between
    # the three, so the first also pays the JVM launch. As in bench.py, each
    # query's timed run is its first in the session.
    for _ in range(3):
        t0 = time.perf_counter()
        spark = new_session()
        qs[WARMUP_QUERY](spark, CORPUS).collect()
        res.setup_s.append(time.perf_counter() - t0)
    tracer = tracer_for(spark)

    per_query: dict[str, list[float]] = {n: [] for n in order}
    last: dict[str, tuple[list, list[str]]] = {}
    start = time.perf_counter()
    passes = 0
    while True:
        pass_s = 0.0
        with _span(tracer, "bench.unit") as unit_span:
            for name in order:
                with _span(tracer, f"queries.{QUERY_MODULE.get(name, 'sql')}.{name}"):
                    res.attempted += 1
                    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
                    try:
                        df = qs[name](spark, CORPUS)
                        rows = df.collect()
                    except Exception:
                        res.failures.append(f"{name}: raised\n{traceback.format_exc()}")
                        continue
                    dt = time.perf_counter() - t0
                    res.op_cpu_s.append(tree_cpu_s(os.getpid()) - c0)
                per_query[name].append(dt)
                pass_s += dt
                last[name] = ([tuple(r) for r in rows], df.columns)
        if res.root is None:
            res.root = unit_span
        passes += 1
        elapsed = time.perf_counter() - start
        log(f"corpus_queries pass {passes}: {pass_s:.2f}s ({elapsed:.1f}s elapsed)")
        if res.failures or elapsed + pass_s > seconds:
            break
    res.failures += _check_queries(last)
    med = {n: statistics.median(t) for n, t in per_query.items() if t}
    res.op_s = list(med.values())
    res.work = len(med)
    res.work_s = sum(med.values())
    res.facts = {"trace.throughput_per_s": len(med) / res.work_s if res.work_s else 0.0}
    res.detail = {"passes": passes, "query_s": med, "order": order}
    return res


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
