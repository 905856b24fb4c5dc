"""Metric names, units and directions, and the per-layer fold.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json`` carries;
``test_perfbench.py`` checks the two agree. Every workload prints every
metric: a layer a workload never enters reads 0 there.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import EventLog
from tracer import GROUP_PREFIX, Span, Tracer, self_times

# Gated metrics are process-tree CPU seconds, not wall time: on a shared
# host, hypervisor steal moves wall time by more than the largest allowed
# bound between runs, while CPU time moves about a tenth. Wall-clock
# throughput, operation times and peak memory are in every run's record.
END_TO_END = [
    # (name, unit, better, bound)
    ("setup_s", "s", "lower", 0.25),
    ("cpu_per_op_s", "s", "lower", 0.25),
    ("cpu_geomean_s", "s", "lower", 0.25),
]

# bfs_crawl commits these nine tables every iteration (trap_stats stays off)
CATALOG_TABLES = [
    "crawl_order", "pages_out", "fetch_failures", "extraction_jobs", "seen",
    "seen_filters", "frontier_pending", "frontier_tombstones", "crawl_state",
]
SPARK_LAYERS = ["engine", "catalog", "dedup", "plans", "queries"]
SPARK_FIELDS = [
    ("stages", "count", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("task_s_max", "s", "lower"),
    ("task_s_median", "s", "lower"),
]
# corpus_queries: the query each operator module is measured by
QUERY_MODULE = {
    "dedup_minhash_lsh": "docdedup",
    "text_postings": "textquality",
    "ann_cosine_topk": "similarity",
    "ann_pq_topk": "ann_index",
    "graph_triangle_counts": "graph",
    "pipeline_sample_mix": "sampling",
    "sessionize_events": "sessions",
    "events_asof_attribution": "temporal",
}

PER_LAYER = (
    [
        ("trace.wall_s", "s", "lower"),
        ("trace.throughput_per_s", "1/s", "higher"),
        ("host.steal_s", "s", "lower"),
        ("host.probe_ratio", "ratio", "higher"),
        ("host.peak_pss_mb", "MB", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.busy_share", "ratio", "higher"),
        ("spark.logged_errors", "count", "lower"),
        ("engine.iteration_jobs", "count", "lower"),
        ("engine.iteration_self_s", "s", "lower"),
        ("engine.commit_wall_s", "s", "lower"),
        ("engine.read_pending_s", "s", "lower"),
        ("engine.phase.fetch_extract_s", "s", "lower"),
        ("engine.phase.dedup_s", "s", "lower"),
        ("engine.phase.seq_stamp_s", "s", "lower"),
        ("engine.seed_s", "s", "lower"),
        ("engine.seed_jobs", "count", "lower"),
    ]
    + [(f"catalog.commit_s.{t}", "s", "lower") for t in CATALOG_TABLES]
    + [(f"catalog.commit_jobs.{t}", "count", "lower") for t in CATALOG_TABLES]
    + [
        ("catalog.read_s", "s", "lower"),
        ("catalog.files_written", "count", "lower"),
        ("catalog.bytes_written", "bytes", "lower"),
        ("catalog.bytes_per_url", "bytes/url", "lower"),
        ("dedup.bloom_update_s", "s", "lower"),
        ("dedup.bloom_update_jobs", "count", "lower"),
        ("dedup.seen_filter_bytes", "bytes", "lower"),
        ("dedup.admit_share", "ratio", "higher"),
        ("politeness.schedule_plan_s", "s", "lower"),
        ("politeness.scheduled_share", "ratio", "higher"),
        ("politeness.rank_task_skew", "ratio", "lower"),
        ("plans.global_seq_s", "s", "lower"),
        ("plans.global_seq_jobs", "count", "lower"),
    ]
    + [(f"spark.{layer}.{f}", u, b) for layer in SPARK_LAYERS for f, u, b in SPARK_FIELDS]
    + [
        (f"queries.{m}_{f}", u, "lower")
        for m in QUERY_MODULE.values()
        for f, u in (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))
    ]
)

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def _skew(stages) -> float:
    maxes = sum(max(s.task_s) for s in stages)
    meds = sum(statistics.median(s.task_s) for s in stages)
    return maxes / meds if meds else 0.0


def fold_layers(
    tracer: Tracer, log: EventLog, root: Span, setup: Span | None, cores: int
) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics of one traced unit of work (``root``) and the
    set-up before it, plus a per-span-name table for the record."""
    unit = tracer.subtree(root)
    spans = unit + (tracer.subtree(setup) if setup else [])
    selfs = self_times(unit)
    own_jobs: dict[int, set[int]] = defaultdict(set)
    for job, grp in log.job_group.items():
        if grp and grp.startswith(GROUP_PREFIX):
            own_jobs[int(grp[len(GROUP_PREFIX):])].add(job)
    # inclusive jobs: a span's own jobs plus those of every span below it
    incl: dict[int, set[int]] = defaultdict(set)
    for s in spans:
        for anc in tracer.ancestors(s.id):
            incl[anc.id] |= own_jobs[s.id]

    def named(prefix: str, within=unit) -> list[Span]:
        return [s for s in within if s.name == prefix or s.name.startswith(prefix + ".")]

    def dur(prefix: str, within=unit) -> float:
        return sum(s.duration for s in named(prefix, within))

    def jobs(prefix: str, within=unit) -> int:
        return sum(len(incl[s.id]) for s in named(prefix, within))

    m: dict[str, float] = {}
    iters = named("engine.iteration")
    m["engine.iteration_jobs"] = jobs("engine.iteration") / len(iters) if iters else 0
    m["engine.iteration_self_s"] = sum(selfs[s.id] for s in iters)
    m["engine.commit_wall_s"] = dur("engine.commit_batch")
    m["engine.read_pending_s"] = dur("engine.read_pending")
    for phase in ("fetch_extract", "dedup", "seq_stamp"):
        m[f"engine.phase.{phase}_s"] = dur(f"engine.phase.{phase}")
    setup_spans = tracer.subtree(setup) if setup else []
    m["engine.seed_s"] = dur("engine.seed", setup_spans)
    m["engine.seed_jobs"] = jobs("engine.seed", setup_spans)
    for t in CATALOG_TABLES:
        m[f"catalog.commit_s.{t}"] = dur(f"catalog.commit.{t}")
        m[f"catalog.commit_jobs.{t}"] = jobs(f"catalog.commit.{t}")
    m["catalog.read_s"] = dur("catalog.read")
    m["dedup.bloom_update_s"] = dur("dedup.bloom_update")
    m["dedup.bloom_update_jobs"] = jobs("dedup.bloom_update")
    m["politeness.schedule_plan_s"] = dur("politeness.schedule")
    m["plans.global_seq_s"] = dur("plans.global_seq")
    m["plans.global_seq_jobs"] = jobs("plans.global_seq")

    unit_jobs = incl[root.id]
    unit_stages = log.stages_of_jobs(unit_jobs)
    m["spark.jobs"] = len(unit_jobs)
    m["spark.busy_share"] = sum(sum(s.task_s) for s in unit_stages) / (root.duration * cores)
    m["politeness.rank_task_skew"] = _skew([s for s in unit_stages if "Window" in s.scopes])
    by_id = {s.id: s for s in unit}
    for layer in SPARK_LAYERS:
        lj = {j for sid, js in own_jobs.items() if sid in by_id and by_id[sid].layer == layer for j in js}
        st = log.stages_of_jobs(lj)
        tasks = [t for s in st for t in s.task_s]
        m[f"spark.{layer}.stages"] = len(st)
        m[f"spark.{layer}.shuffle_read_bytes"] = sum(s.shuffle_read for s in st)
        m[f"spark.{layer}.shuffle_write_bytes"] = sum(s.shuffle_write for s in st)
        m[f"spark.{layer}.spill_bytes"] = sum(s.spill for s in st)
        m[f"spark.{layer}.task_s_max"] = max(tasks, default=0.0)
        m[f"spark.{layer}.task_s_median"] = statistics.median(tasks) if tasks else 0.0
    for module in QUERY_MODULE.values():
        qs = named(f"queries.{module}")
        qjobs = set().union(*(incl[s.id] for s in qs)) if qs else set()
        st = log.stages_of_jobs(qjobs)
        m[f"queries.{module}_s"] = sum(s.duration for s in qs)
        m[f"queries.{module}_jobs"] = len(qjobs)
        m[f"queries.{module}_shuffle_bytes"] = sum(s.shuffle_read + s.shuffle_write for s in st)
    m["trace.wall_s"] = root.duration

    table: dict[str, dict] = {}
    for s in unit:
        row = table.setdefault(s.name, {"span": s.name, "n": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
        row["n"] += 1
        row["total_s"] += s.duration
        row["self_s"] += selfs[s.id]
        row["jobs"] += len(own_jobs[s.id])
    return m, sorted(table.values(), key=lambda r: -r["self_s"])
