"""crawler_service_spark — a PySpark-native distributed URL-frontier + fetch scheduler.

A from-scratch reimplementation of the *capabilities* of xtracthub/crawler-service
(reference snapshot at /root/reference, read-only) as an idiomatic Spark engine:

- the reference's in-process BFS ``Queue`` / SQS ``crawl_work_queue`` frontier
  (reference: crawlers/globus_base_preserved.py:427-428, utils/sqs_utils.py:27-78)
  becomes an append-only ``frontier`` table iterated by batch DataFrame jobs;
- its thread/batch throttling (8 crawl threads, SQS batches of 10;
  crawlers/globus_base_preserved.py:23,139) becomes a per-host politeness window
  (``row_number().over(Window.partitionBy('host').orderBy(...))``);
- its per-family dedup set (crawlers/globus_base_preserved.py:396-403) becomes an
  exact int64 anti-join against a hash-partitioned URL-seen table;
- its family/extraction-job SQS envelopes (crawlers/globus_base_preserved.py:360-409)
  become byte-stable JSON rows in an ``extraction_jobs`` table.

Everything is DataFrame-layer; no RDDs, no custom Catalyst rules. Python work runs
only in vectorized Arrow/pandas UDF batches.
"""

__version__ = "0.1.0"
