"""Position-scheme marker on the persisted seen filters (SURVEY.md §5.2).

Delta rows persist raw (h1, h2) hashes — portable across probe-scheme
changes — but built base blobs bake bit POSITIONS into bytes. A
blob built under one scheme and probed under another false-negatives
silently, and ``maybe_seen=False`` skips the exact anti-join: the one
failure direction the filter contract forbids. The catalog marker makes
that mismatch a loud refusal instead:

- fresh tables are stamped at first write and stay valid through
  rebuilds and snapshot (``upto=``) probes;
- an unmarked all-delta chain (pre-marker layout, never compacted) is
  adopted in place — hashes need no migration;
- an unmarked chain that HAS a built base, or a marker naming a different
  scheme, refuses writes and probes with a rebuild instruction.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.operators.dedup import BloomSeenFilter
from crawler_service_spark.storage import ManifestCatalog

SEEN = [f"https://h{i % 5}.example.com/seen/{i}" for i in range(80)]
NEW = [f"https://h{i % 5}.example.com/new/{i}" for i in range(30)]


@pytest.fixture()
def catalog(spark, tmp_path):
    return ManifestCatalog(str(tmp_path / "schemecat"), spark)


def urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def marker_path(catalog, table):
    return os.path.join(catalog.root, table, "_marker-position-scheme")


def test_fresh_table_stamped_and_survives_compaction(spark, catalog):
    bloom = BloomSeenFilter(catalog, n_buckets=2, m_bits=1 << 12, k_hashes=5,
                            compact_every=1)
    bloom.update(urls_df(spark, SEEN[:40]), "b0")
    assert catalog.read_marker(bloom.TABLE, "position-scheme") == bloom.SCHEME

    bloom.update(urls_df(spark, SEEN[40:]), "b1", rebuild_from=urls_df(spark, SEEN))
    modes = [m for _c, m in catalog.commit_modes(bloom.TABLE)]
    assert "overwrite" in modes, "test must exercise a compacted chain"
    assert catalog.read_marker(bloom.TABLE, "position-scheme") == bloom.SCHEME

    flagged = bloom.flag_maybe_seen(urls_df(spark, SEEN + NEW))
    seen_rows = flagged.filter(F.col("url").contains("/seen/"))
    assert seen_rows.filter(~F.col("maybe_seen")).count() == 0
    # snapshot probe still passes the guard (marker is table-global)
    bloom.flag_maybe_seen(urls_df(spark, SEEN), upto="b0").count()


def test_unmarked_pure_delta_chain_is_adopted(spark, catalog):
    bloom = BloomSeenFilter(catalog, n_buckets=2, m_bits=1 << 12, k_hashes=5,
                            compact_every=16)
    bloom.update(urls_df(spark, SEEN[:40]), "b0")  # delta only, no fold
    os.remove(marker_path(catalog, bloom.TABLE))  # simulate pre-marker layout

    # probe works (no positions persisted anywhere) and does not stamp
    assert bloom.flag_maybe_seen(urls_df(spark, SEEN[:40])) \
        .filter(~F.col("maybe_seen")).count() == 0
    assert not os.path.exists(marker_path(catalog, bloom.TABLE))

    # next update adopts: stamps the current scheme, chain stays exact
    bloom.update(urls_df(spark, SEEN[40:]), "b1")
    assert catalog.read_marker(bloom.TABLE, "position-scheme") == bloom.SCHEME
    assert bloom.flag_maybe_seen(urls_df(spark, SEEN)) \
        .filter(~F.col("maybe_seen")).count() == 0


def test_unmarked_compacted_chain_refused(spark, catalog):
    bloom = BloomSeenFilter(catalog, n_buckets=2, m_bits=1 << 12, k_hashes=5,
                            compact_every=1)
    bloom.update(urls_df(spark, SEEN[:40]), "b0")
    bloom.update(urls_df(spark, SEEN[40:]), "b1", rebuild_from=urls_df(spark, SEEN))
    os.remove(marker_path(catalog, bloom.TABLE))

    with pytest.raises(ValueError, match="predate the position-scheme marker"):
        bloom.flag_maybe_seen(urls_df(spark, SEEN)).count()
    with pytest.raises(ValueError, match="predate the position-scheme marker"):
        bloom.update(urls_df(spark, NEW), "b2")
    with pytest.raises(ValueError, match="predate the position-scheme marker"):
        bloom.build(urls_df(spark, SEEN + NEW), "b2")


def test_mismatched_scheme_refused(spark, catalog):
    bloom = BloomSeenFilter(catalog, n_buckets=2, m_bits=1 << 12, k_hashes=5)
    bloom.update(urls_df(spark, SEEN[:40]), "b0")
    catalog.write_marker(bloom.TABLE, "position-scheme", "bloom-pos-v1")

    with pytest.raises(ValueError, match="not portable across schemes"):
        bloom.flag_maybe_seen(urls_df(spark, SEEN)).count()
    with pytest.raises(ValueError, match="not portable across schemes"):
        bloom.update(urls_df(spark, NEW), "b1")
    with pytest.raises(ValueError, match="not portable across schemes"):
        bloom.build(urls_df(spark, SEEN + NEW), "b1")

