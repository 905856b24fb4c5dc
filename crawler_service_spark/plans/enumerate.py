"""Distributed, deterministic global sequence numbers.

The crawl-order contract needs a total enumeration of rows by a sort key (the
oracle's FIFO position). A naive ``row_number().over(Window.orderBy(...))``
collapses everything into ONE partition — fine at 10^4 rows, fatal at 10^10.

This is the standard two-pass distributed enumeration instead:
 1. range-repartition + sort within partitions by the key (one shuffle),
    tagging each row with its range partition id and pinning the blocks;
 2. count rows per partition (tiny driver-side collect — #partitions values);
 3. one JVM column expression stamps ``seq = offsets[pid] + local_index``,
    where ``offsets`` is a literal array over all range partitions (empty
    ones included) and ``local_index`` is the low 33 bits of
    ``monotonically_increasing_id()`` — the record number within the task's
    partition. No Python stage, no extra job.

Deterministic as long as ``order_cols`` is a TOTAL order (callers must include
a unique tiebreak column) — range boundaries may vary run-to-run, but
offset+local-index depends only on the global sort order, not the boundaries:
the counts and the stamp both read the pinned blocks in their sorted order.
The offset comes from the materialized pid column, never from the id's high
bits or ``spark_partition_id()`` at stamp time, so it depends only on which
pinned block a row sits in, not on the partition index of the task that reads
it (a consumer may union the output behind another frame, as the frontier
compaction does). Filters on the output are not pushed below the stamp
(Catalyst keeps predicates above a nondeterministic projection), so the local
index counts every row of the block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PID = "__pid"
_LOCAL_MASK = (1 << 33) - 1  # monotonically_increasing_id: record number bits


def with_global_seq(
    df: DataFrame,
    order_cols: list,
    seq_col: str = "seq",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``seq_col`` = start + global rank (0-based) by ``order_cols``."""
    n = int(num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    # lazy checkpoint: the count job below materializes it; the stamp and all
    # later consumers then read pinned blocks (same layout, no recompute)
    part = part.localCheckpoint(eager=False)
    counts = {r[_PID]: r["cnt"] for r in part.groupBy(_PID).agg(F.count("*").alias("cnt")).collect()}
    offsets = []
    acc = start
    for pid in range(n):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    local = F.monotonically_increasing_id().bitwiseAND(F.lit(_LOCAL_MASK))
    offset = F.array(*[F.lit(o).cast("long") for o in offsets])[F.col(_PID)]
    return part.withColumn(seq_col, offset + local).drop(_PID)
