"""ManifestCatalog — Iceberg-semantics table storage on plain Parquet.

The sandbox has no Iceberg runtime jars, so the engine ships a minimal catalog
with the three Iceberg properties the design depends on, behind the same call
shapes (``append`` / ``overwrite`` / snapshot reads) so a real Iceberg catalog
(``df.writeTo(tbl).append()``, ``VERSION AS OF``) is a drop-in swap on a cluster:

1. **Atomic commits** — data files are written to a per-commit directory, then a
   tiny JSON manifest is ``os.rename``d into place (atomic on POSIX). Readers
   only ever see fully-committed manifests. This replaces the reference's
   receive/delete-visibility dance on SQS (application.py:202-245) and its
   Postgres status flips (crawlers/globus_base_preserved.py:109-114).
2. **Snapshot isolation / time travel** — ``read(table, upto=commit_id)``
   replays manifests only up to a named commit, so iteration *k* of the crawl
   always reads state exactly as of iteration *k-1* even if later commits
   landed before a crash. This is what makes every iteration a pure,
   re-runnable function of the previous snapshot.
3. **Idempotent commits** — a commit with an already-present ``commit_id`` is a
   no-op, so re-running a crashed iteration converges instead of duplicating.

Data files stay Parquet (columnar, predicate-pushdown-able); manifests are tiny
driver-side JSON, never data.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from collections import defaultdict

from pyspark.sql import Column, DataFrame, Observation, SparkSession


class ManifestCatalog:
    """Thread-safety: manifest sequencing (read seq -> rename) is guarded by a
    per-table lock, so the engine's concurrent per-iteration commits (one pool
    thread per table, engine.run_iteration) are safe even if two ever target
    the same table.
    Cross-PROCESS writers still need external coordination (real Iceberg uses
    the catalog's atomic swap for this)."""

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)
        self._locks: dict[str, threading.Lock] = defaultdict(threading.Lock)
        self._locks_guard = threading.Lock()
        # schema cache: a table's schema is fixed across commits, so snapshot
        # reads can skip per-read parquet footer inference (driver-side I/O
        # that otherwise repeats every iteration)
        self._schemas: dict[str, object] = {}

    def _lock(self, table: str) -> threading.Lock:
        with self._locks_guard:
            return self._locks[table]

    # ------------------------------------------------------------------ paths
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_manifests")

    def _manifests(self, table: str) -> list[str]:
        d = self._manifest_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(f for f in os.listdir(d) if f.endswith(".json"))

    # ---------------------------------------------------------------- markers
    def write_marker(self, table: str, name: str, value: str) -> None:
        """Atomically persist a small table-level marker (e.g. a storage
        scheme version) beside the manifests. Markers live outside the
        commit log on purpose: they describe how ALL of a table's payloads
        must be interpreted, so they must be visible to every snapshot
        (``upto=`` reads included) rather than travel with one commit."""
        d = self._table_dir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-marker-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(value)
        os.rename(tmp, os.path.join(d, f"_marker-{name}"))

    def read_marker(self, table: str, name: str) -> str | None:
        path = os.path.join(self._table_dir(table), f"_marker-{name}")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()

    # ---------------------------------------------------------------- commits
    def has_commit(self, table: str, commit_id: str) -> bool:
        return any(m.endswith(f"-{commit_id}.json") for m in self._manifests(table))

    def commit(
        self,
        table: str,
        df: DataFrame,
        commit_id: str,
        mode: str = "append",
        max_files: int | None = None,
        partition_by: list[str] | None = None,
        observe: tuple[Observation, list[Column]] | None = None,
    ) -> bool:
        """Write ``df`` as one atomic commit. Returns False if the commit_id was
        already present (idempotent re-run). ``max_files`` is an upper bound on
        the commit's data files: at most ``max_files``, fewer when the commit
        is small (small-file compaction; at petabyte scale leave None).
        ``partition_by`` hive-partitions the commit's data files on the given
        columns, so snapshot reads with an equality/IN filter on them prune
        whole directories (the IVF inverted-list scan relies on this).
        ``observe`` = ``(observation, columns)`` collects counters on the
        write action itself (``DataFrame.observe``), attached above the file
        bound: adaptive execution drops an empty rebalance stage from the
        final plan, and metrics collected below the bound go with it.

        File-bounding is sized by bytes: a ``rebalance`` exchange, then a
        narrow ``coalesce(max_files)`` over its output.
        - The exchange keeps the producing stage (the fetch/extract pipeline
          materializing through a lazy localCheckpoint) at full width. A
          bare ``coalesce`` is a narrow dependency and would collapse that
          stage to ``max_files`` tasks, capping compute parallelism.
        - Adaptive execution merges the rebalance's small post-shuffle
          partitions by bytes, so a few-hundred-row iteration batch writes
          one file, where a round-robin ``repartition(max_files)`` (the
          earlier design) always wrote ``max_files`` files in as many tasks.
        - The ``coalesce`` caps the count even when adaptive execution
          splits a skewed rebalance partition.
        Tried and lost: writing the natural partitions with no exchange. The
        range-partitioned ``seen``/``frontier_pending`` frames then write 4
        files each, and the ``bfs_crawl`` benchmark measured slower than the
        rebalance (cpu_per_op_s 22.07 / 19.79 / 23.05 s against 19.93 /
        19.12 / 22.38 s, seeds 301-303, 4 cores)."""
        assert mode in ("append", "overwrite")
        if self.has_commit(table, commit_id):
            return False
        data_rel = os.path.join("data", commit_id)
        data_abs = os.path.join(self._table_dir(table), data_rel)
        if max_files:
            df = df.hint("rebalance", max_files).coalesce(max_files)
        if observe:
            df = df.observe(observe[0], *observe[1])
        # a crashed earlier attempt may have left partial data; overwrite it
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_abs)
        self._publish(table, commit_id, mode, data_rel, partition_by)
        return True

    def _publish(
        self,
        table: str,
        commit_id: str,
        mode: str,
        data_rel: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """Atomically append the manifest; the per-table lock makes the
        seq-read + rename race-free across concurrent commit threads."""
        mdir = self._manifest_dir(table)
        os.makedirs(mdir, exist_ok=True)
        with self._lock(table):
            seq = len(self._manifests(table))
            manifest = {"seq": seq, "commit_id": commit_id, "mode": mode, "data": data_rel}
            if partition_by:
                manifest["partition_by"] = partition_by
            tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.rename(tmp, os.path.join(mdir, f"{seq:06d}-{commit_id}.json"))

    def commit_rows(
        self, table: str, rows: list[dict], schema, commit_id: str, mode: str = "append"
    ) -> bool:
        """Commit a tiny driver-side row set (e.g. the one-row crawl_state
        checkpoint) directly via pyarrow — no Spark job, no task latency."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.has_commit(table, commit_id):
            return False
        data_rel = os.path.join("data", commit_id)
        data_abs = os.path.join(self._table_dir(table), data_rel)
        os.makedirs(data_abs, exist_ok=True)
        cols = {name: [r.get(name) for r in rows] for name in schema.names}
        pq.write_table(
            pa.table(cols, schema=schema), os.path.join(data_abs, "part-0.parquet")
        )
        self._publish(table, commit_id, mode, data_rel)
        return True

    # ------------------------------------------------------------------ reads
    def _active_entries(
        self, table: str, upto: str | None = None, exclude_commit: str | None = None
    ) -> list[tuple[str, list[str] | None]]:
        """Active (data_dir, partition_by) pairs for the requested snapshot."""
        entries: list[tuple[str, list[str] | None]] = []
        for name in self._manifests(table):
            with open(os.path.join(self._manifest_dir(table), name)) as f:
                m = json.load(f)
            if m["commit_id"] == exclude_commit:
                # skip an append commit's data (replay protection: a partially
                # processed batch must not read its own earlier append). Only
                # meaningful for appends — excluding an overwrite would splice
                # pre-overwrite history back in, so refuse loudly.
                if m["mode"] != "append":
                    # not assert: the guard must survive `python -O`, or an
                    # optimized run would silently splice pre-overwrite
                    # history back into the snapshot
                    raise ValueError(
                        f"exclude_commit={exclude_commit!r} is an overwrite commit"
                    )
                continue
            if m["mode"] == "overwrite":
                entries = []
            entries.append(
                (
                    os.path.join(self._table_dir(table), m["data"]),
                    m.get("partition_by"),
                )
            )
            if upto is not None and m["commit_id"] == upto:
                return entries
        if upto is not None:
            return []  # requested snapshot not committed yet
        return entries

    def _active_dirs(
        self, table: str, upto: str | None = None, exclude_commit: str | None = None
    ) -> list[str]:
        return [d for d, _p in self._active_entries(table, upto, exclude_commit)]

    def exists(self, table: str) -> bool:
        return bool(self._manifests(table))

    def read(
        self,
        table: str,
        upto: str | None = None,
        exclude_commit: str | None = None,
        schema=None,
    ) -> DataFrame | None:
        """``schema`` (DDL string or StructType) is required to read a table
        whose visible commits may all be empty (an empty DataFrame writes no
        parquet part files, so there is nothing to infer from)."""
        entries = self._active_entries(table, upto, exclude_commit)
        if not entries:
            return None
        # an explicit caller schema beats the cache: the cache may hold an
        # INFERRED schema from an earlier plain read (e.g. a partition column
        # typed int by discovery where the caller declares long)
        cached = self._schemas.get(table)
        use_schema = schema if schema is not None else cached

        def _reader():
            r = self.spark.read
            return r.schema(use_schema) if use_schema is not None else r

        if any(p for _d, p in entries):
            # hive-partitioned commits: each commit dir is its own partition
            # root, so read per-commit (basePath = the commit dir) and union —
            # a single multi-path read would see conflicting structures.
            # Partition pruning still applies inside every branch.
            from functools import reduce

            parts = [
                _reader().option("basePath", d).parquet(d) for d, _p in entries
            ]
            df = reduce(lambda a, b: a.unionByName(b), parts)
        else:
            df = _reader().parquet(*[d for d, _p in entries])
        if cached is None:
            self._schemas[table] = df.schema
        return df

    def read_last_commit_rows(self, table: str) -> list[dict]:
        """Driver-side read of the newest commit's rows via pyarrow (no Spark
        job) — for tiny control tables like crawl_state."""
        import pyarrow.dataset as ds

        manifests = self._manifests(table)
        if not manifests:
            return []
        with open(os.path.join(self._manifest_dir(table), manifests[-1])) as f:
            m = json.load(f)
        tbl = ds.dataset(os.path.join(self._table_dir(table), m["data"])).to_table()
        return tbl.to_pylist()

    def read_commit(self, table: str, commit_id: str) -> DataFrame | None:
        """Read exactly one commit's data files (not the cumulative snapshot)."""
        for name in self._manifests(table):
            with open(os.path.join(self._manifest_dir(table), name)) as f:
                m = json.load(f)
            if m["commit_id"] == commit_id:
                return self.spark.read.parquet(os.path.join(self._table_dir(table), m["data"]))
        return None

    def commits(self, table: str) -> list[str]:
        out = []
        for name in self._manifests(table):
            with open(os.path.join(self._manifest_dir(table), name)) as f:
                out.append(json.load(f)["commit_id"])
        return out

    def commit_modes(self, table: str) -> list[tuple[str, str]]:
        """(commit_id, mode) per manifest in commit order — lets LSM-shaped
        tables (the seen-filter delta chains) count appends since the last
        overwrite without reading any data files."""
        out = []
        for name in self._manifests(table):
            with open(os.path.join(self._manifest_dir(table), name)) as f:
                m = json.load(f)
            out.append((m["commit_id"], m["mode"]))
        return out

    def compact(
        self, table: str, commit_id: str, files: int | None = None, schema=None
    ) -> bool:
        """Rewrite the table's current snapshot as ONE overwrite commit.

        Long crawls append thousands of tiny per-iteration commits to
        ``seen``/``crawl_order``/``extraction_jobs``; snapshot reads then pay
        per-file open cost. Compaction folds them into a single commit
        (Iceberg's rewrite_data_files analogue). Snapshot isolation is
        preserved: older ``upto=`` reads still replay the pre-compaction
        manifest chain untouched. Pass ``schema`` when the table's visible
        commits may all be empty (nothing to infer from).
        """
        df = self.read(table, schema=schema)
        if df is None:
            return False
        return self.commit(table, df, commit_id, mode="overwrite", max_files=files)

    def drop(self, table: str) -> None:
        shutil.rmtree(self._table_dir(table), ignore_errors=True)
        # a recreate may use a different schema — never force the stale one
        self._schemas.pop(table, None)
        with self._locks_guard:
            self._locks.pop(table, None)
