"""ManifestCatalog: concurrent same-table commit safety, compaction and
byte-sized file bounding."""

from __future__ import annotations

import glob
import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from crawler_service_spark.storage import ManifestCatalog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_files(cat, table, commit_id):
    return glob.glob(
        os.path.join(cat.root, table, "data", commit_id, "**", "*.parquet"), recursive=True
    )


def test_concurrent_commits_same_table_never_lose_one(spark, tmp_path):
    """The per-table lock makes manifest sequencing race-free: N threads
    committing distinct ids to ONE table must all land (the pre-lock race
    silently overwrote colliding manifest seqs)."""
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    n = 12

    def commit(i: int) -> bool:
        df = spark.createDataFrame([(i, f"v{i}")], "k long, v string")
        return cat.commit("t", df, f"c-{i}")

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(commit, range(n)))
    assert all(results)
    assert sorted(cat.commits("t")) == sorted(f"c-{i}" for i in range(n))
    assert cat.read("t").count() == n
    # idempotent re-commit is still a no-op
    assert not cat.commit("t", spark.createDataFrame([(0, "x")], "k long, v string"), "c-0")
    assert cat.read("t").count() == n


def test_compact_preserves_snapshot_and_time_travel(spark, tmp_path):
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    for i in range(5):
        cat.commit(
            "t", spark.createDataFrame([(i,)], "k long"), f"c-{i}",
        )
    before = _rows(cat.read("t"))
    early = _rows(cat.read("t", upto="c-2"))
    assert cat.compact("t", "compact-1", files=1)
    assert _rows(cat.read("t")) == before
    # time travel to pre-compaction commits still replays the old chain
    assert _rows(cat.read("t", upto="c-2")) == early
    # appends after compaction stack on the compacted base
    cat.commit("t", spark.createDataFrame([(99,)], "k long"), "c-99")
    assert _rows(cat.read("t")) == sorted(before + [(99,)])
    # compacting an absent table is a no-op
    assert not cat.compact("missing", "x")


def test_exclude_commit_drops_exactly_that_append(spark, tmp_path):
    """Replay protection at the catalog level: ``exclude_commit`` removes one
    append's rows from the snapshot and nothing else; an id that never
    committed excludes nothing; excluding the only commit yields no snapshot
    (None), not an empty frame with a guessed schema."""
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    for i in range(3):
        cat.commit("t", spark.createDataFrame([(i,)], "k long"), f"c-{i}")
    assert _rows(cat.read("t", exclude_commit="c-1")) == [(0,), (2,)]
    assert _rows(cat.read("t", exclude_commit="never-landed")) == [(0,), (1,), (2,)]
    cat.commit("solo", spark.createDataFrame([(7,)], "k long"), "only")
    assert cat.read("solo", exclude_commit="only") is None


def test_exclude_commit_refuses_overwrite_commits(spark, tmp_path):
    """Excluding an overwrite would splice pre-overwrite history back into the
    snapshot, so the catalog refuses loudly — with a ValueError, not an
    ``assert``, so the guard also fires under ``python -O``. Compaction
    commits are overwrites and must be refused the same way."""
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    cat.commit("t", spark.createDataFrame([(1,)], "k long"), "c-0")
    cat.commit(
        "t", spark.createDataFrame([(2,)], "k long"), "ow-1", mode="overwrite"
    )
    with pytest.raises(ValueError, match="overwrite"):
        cat.read("t", exclude_commit="ow-1")
    cat.commit("t", spark.createDataFrame([(3,)], "k long"), "c-2")
    assert cat.compact("t", "compact-1", files=1)
    with pytest.raises(ValueError, match="overwrite"):
        cat.read("t", exclude_commit="compact-1")


def test_exclude_commit_is_ineffective_after_compaction(spark, tmp_path):
    """Once compact() folds the snapshot into one overwrite base, a
    pre-compaction append's rows live inside that base: excluding the append
    silently returns the FULL snapshot. This is the documented reason
    streaming near-dup refuses to compact while a checkpoint may still replay
    a batch (streaming/neardup.py compaction guard) — pin the catalog-level
    behavior the guard exists to compensate for."""
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    for i in range(3):
        cat.commit("t", spark.createDataFrame([(i,)], "k long"), f"batch-{i}")
    assert _rows(cat.read("t", exclude_commit="batch-2")) == [(0,), (1,)]
    assert cat.compact("t", "compact-1", files=1)
    # the exclusion no longer removes batch-2's rows: its manifest is skipped,
    # but the compacted overwrite that follows carries the rows anyway
    assert _rows(cat.read("t", exclude_commit="batch-2")) == [(0,), (1,), (2,)]


def test_commit_rows_and_driver_side_reads(spark, tmp_path):
    """The no-Spark-job control plane (crawl_state-shaped tables): pyarrow
    commit_rows is idempotent per commit id, read_last_commit_rows sees only
    the newest commit, read_commit isolates one commit's data, and
    commit_modes exposes the append/overwrite chain without reading data."""
    import pyarrow as pa

    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    schema = pa.schema([("k", pa.int64()), ("v", pa.string())])
    assert cat.commit_rows("state", [{"k": 1, "v": "a"}], schema, "c-0")
    assert not cat.commit_rows("state", [{"k": 9, "v": "z"}], schema, "c-0")
    assert cat.read_last_commit_rows("state") == [{"k": 1, "v": "a"}]
    assert cat.commit_rows("state", [{"k": 2, "v": "b"}], schema, "c-1")
    assert cat.read_last_commit_rows("state") == [{"k": 2, "v": "b"}]
    assert _rows(cat.read_commit("state", "c-0")) == [(1, "a")]
    assert cat.read_commit("state", "never") is None
    assert cat.commit_modes("state") == [("c-0", "append"), ("c-1", "append")]
    # the cumulative snapshot still stacks both commits
    assert _rows(cat.read("state")) == [(1, "a"), (2, "b")]


def test_drop_forgets_schema_for_recreate(spark, tmp_path):
    """drop() must clear the cached inferred schema: a recreate under the same
    table name may use a different shape, and a stale cache would force the
    old one onto the new files."""
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    cat.commit("t", spark.createDataFrame([(1,)], "k long"), "c-0")
    assert _rows(cat.read("t")) == [(1,)]  # populates the schema cache
    cat.drop("t")
    assert not cat.exists("t")
    cat.commit(
        "t", spark.createDataFrame([("s", 2)], "name string, n long"), "c-0"
    )
    assert _rows(cat.read("t")) == [("s", 2)]


def test_max_files_is_an_upper_bound_sized_by_bytes(spark, tmp_path):
    """``max_files`` caps a commit's data files; it does not fix their count.
    A small batch writes ONE file (a round-robin ``repartition(8)`` wrote 8,
    in 8 tasks). A multi-MB frame stays within the cap even when adaptive
    execution splits its rebalance partitions (forced here by a 256 KiB
    advisory size, so the split happens at test scale), and the producing
    stage still runs at its own width (a bare ``coalesce`` would collapse it
    to ``max_files`` tasks)."""
    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    small = spark.range(0, 164, numPartitions=4).selectExpr(
        "id AS k", "sha2(string(id), 256) AS v"
    )
    assert cat.commit("small", small, "c-0", max_files=8)
    assert len(_data_files(cat, "small", "c-0")) == 1
    assert cat.read("small").count() == 164

    sc = spark.sparkContext
    big = spark.range(0, 200_000, numPartitions=16).selectExpr(
        "id AS k", "sha2(string(id), 256) AS v"
    )
    sc.setJobGroup("max-files-big", "bounded commit of a 16-partition frame")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
    try:
        assert cat.commit("big", big, "c-0", max_files=2)
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(_data_files(cat, "big", "c-0")) <= 2
    assert cat.read("big").count() == 200_000
    tracker = sc.statusTracker()
    stage_tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("max-files-big")
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert max(stage_tasks) == 16, stage_tasks


def test_max_files_commit_of_an_empty_frame_keeps_its_schema(spark, tmp_path):
    """An empty bounded commit still writes one footer-only file, so a plain
    read (no caller schema) recovers the schema. The Bloom-filter and
    trap-census commits rely on this for batches that add nothing. Counters
    observed on the write still arrive: adaptive execution drops the empty
    rebalance stage, so the catalog observes above the file bound."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cat = ManifestCatalog(str(tmp_path / "wd"), spark)
    empty = spark.range(0, 100, numPartitions=4).selectExpr(
        "id AS k", "string(id) AS v"
    ).filter("k < 0")
    obs = Observation()
    assert cat.commit(
        "e", empty, "c-0", max_files=1, observe=(obs, [F.count(F.lit(1)).alias("n")])
    )
    assert obs.get == {"n": 0}
    assert len(_data_files(cat, "e", "c-0")) == 1
    back = cat.read("e")
    assert back.schema.simpleString() == "struct<k:bigint,v:string>"
    assert back.count() == 0
