"""URL-seen set: partitioned Bloom accelerator + exact anti-join backstop.

The reference deduplicates with in-memory Python sets (per-family
``tracked_files``, crawlers/globus_base_preserved.py:396-403; a stub global
``dup_check``, legacy/posix_crawler.py:67-68). At 10^10 URLs the seen set
cannot live in one memory image, so:

- the **exact** membership structure is the ``seen`` table, hash-partitioned by
  ``url_hash = xxhash64(canonical_url)``; dedup is a left-anti join on
  ``(url_hash, url)`` — the full url string is part of the join key because
  xxhash64 *will* collide a handful of times at 10^10 keys, and a collision
  must never drop an unseen URL;
- a **partitioned Bloom filter** (``seen_filters``; one blob per
  ``pmod(url_hash, n_buckets)`` bucket) accelerates the common case. Direction
  of approximation is the safe one: bloom says "definitely new" (skip the
  exact join entirely) or "maybe seen" (fall through to the exact anti-join).
  False positives only cost extra exact lookups; they can never lose URLs.
  Sizing at 10^10 keys / 1% fpp ≈ 12 GB of bits — which is exactly why the
  filter is bucketed and lives distributed in a table, never on the driver
  (unlike ``df.stat.bloomFilter`` which collects to one driver-side filter).

**The filter is derived from the seen table**, which stays the source of
truth. ``build`` folds a given URL set into fresh base blobs in one overwrite
commit, each bucket's bit array sized from its own row count
(``bit_array_size``; probes read m back from the blob length). The engine
builds when the probe first engages (``CrawlConfig.bloom_min_seen``), rebuilds
every ``compact_every`` iterations from the seen set, and rebuilds from the
kept rows when ``expire(mode="forget")`` deletes seen rows — so the filter
forgets too, and no deletable filter is needed. Below the gate no filter is
written. Between builds an ``update`` appends one tiny *delta* row per touched
bucket (the packed int64 hash pairs of that batch, ~16 bytes per URL), so
per-iteration filter-commit bytes scale with the BATCH, never the filter. Readers
fold a bucket's chain (base blob plus deltas in ``ver`` order) inside the
probe UDF; snapshot reads (``upto=``) replay any earlier chain untouched, so
time travel and resume are unaffected.

Tried and lost: a partitioned cuckoo filter with a ``remove()`` delta kind
(deletable, for expiry) and maintaining the Bloom from iteration 0. Engaged on
a 586k-URL saturated drain the probes ran at 0.44× (bloom) and 0.15×
(cuckoo) of the exact anti-join alone (BASELINE.md round 4), and upkeep below
the gate cost ~3 Spark jobs per iteration for a probe that never ran.

All bloom hash material is computed JVM-side (two independent xxhash64 streams);
Python only touches int64 numpy arrays inside Arrow-batched grouped UDFs
(Kirsch-Mitzenmacher double hashing: pos_i = g1 + i*(h2|1) mod m, i = 1..k,
g1 = h1 ^ (h1 >> 32) — h1's low bits double as the bucket id, so they are
folded with the unconstrained high bits before probing; see _positions).

Because base blobs bake positions into bytes while delta rows persist raw
hashes, the table carries a ``position-scheme`` catalog marker; probing or
writing under a different scheme than the blobs were built with refuses
loudly instead of silently false-negativing (see _check_scheme).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..storage import ManifestCatalog

_H2_SALT = 0x9E3779B9  # second, independent hash stream: xxhash64(url, salt)


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; uint64 wraparound is fine.

    h1 is xorshift-folded before use: the bucket selector is
    ``pmod(h1, n_buckets)``, so within a bucket h1's low bits are constant —
    a probe at bare ``h1 mod m`` (both powers of two) could only ever touch
    1/n_buckets of the bit array, saturating early and silently degrading
    the filter to k-1 effective hashes. Nor do odd strides alone repair it:
    ``i*(h2|1) ≡ 2^v(i) (mod 2^(v(i)+1))``, so every even probe index is
    still pinned to a coset of the pinned base (measured FPR 0.058 vs the
    0.034 ideal at kn/m≈1). Folding the unconstrained high bits into the
    low bits makes the base uniform; simulated FPR then matches
    ``(1-e^{-kn/m})^k`` to 3 decimals at both heavy and light load
    (BASELINE.md round 5). The stride is still forced odd (m is a multiple
    of 64, so the stride is never zero mod m and k < 64 probes stay
    distinct) and probes start at multiple 1, belt-and-braces with the
    fold."""
    a = h1.astype(np.uint64)
    a = a ^ (a >> np.uint64(32))
    b = h2.astype(np.uint64) | np.uint64(1)
    ks = np.arange(1, k + 1, dtype=np.uint64)[None, :]
    return ((a[:, None] + ks * b[:, None]) % np.uint64(m)).astype(np.int64)


def with_bloom_hashes(df: DataFrame, url_col: str = "url", n_buckets: int = 64) -> DataFrame:
    return (
        df.withColumn("__h1", F.xxhash64(F.col(url_col)))
        .withColumn("__h2", F.xxhash64(F.col(url_col), F.lit(_H2_SALT)))
        .withColumn("__bucket", F.pmod(F.col("__h1"), F.lit(n_buckets)).cast("int"))
    )


# --------------------------------------------------------------------------- #
# LSM storage: base blobs built from the seen table, plus per-batch deltas
# --------------------------------------------------------------------------- #

BLOB_SCHEMA = "bucket int, ver long, kind string, payload binary"
_BASE, _ADD = "base", "add"
# Built blobs get BITS_PER_KEY bits per folded URL: at k=7 that is
# (1-e^{-0.7})^7 ≈ 0.8% false positives at build time. Deltas appended
# until the next rebuild load the same bits further (safe direction).
BITS_PER_KEY = 10


def bit_array_size(n: int) -> int:
    """Bit-array size for a blob folding ``n`` keys (a whole number of
    64-bit words, at least one)."""
    return max(64, -(-n * BITS_PER_KEY // 64) * 64)


def _pack_hashes(h1: np.ndarray, h2: np.ndarray) -> bytes:
    """Delta payload: the batch's (h1, h2) pairs as little-endian int64s,
    sorted so the blob is independent of Arrow batch arrival order."""
    order = np.lexsort((h2, h1))
    return np.ascontiguousarray(
        np.concatenate([h1[order], h2[order]]).astype("<i8")
    ).tobytes()


def _unpack_hashes(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    arr = np.frombuffer(payload, dtype="<i8")
    n = len(arr) // 2
    return arr[:n], arr[n:]


def _chain_rows(chain_pdf: pd.DataFrame):
    """A bucket's chain in ver order: (kind, payload) tuples."""
    if not len(chain_pdf):
        return []
    idx = np.argsort(chain_pdf["ver"].to_numpy(), kind="stable")
    kinds = chain_pdf["kind"].to_numpy()
    payloads = chain_pdf["payload"].to_numpy()
    return [(kinds[i], bytes(payloads[i])) for i in idx]


def _set_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray, k: int) -> None:
    """OR the keys into ``bits`` in place; m is the array's own length."""
    if len(h1):
        pos = _positions(h1, h2, k, len(bits) * 8).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _member(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray, k: int) -> np.ndarray:
    pos = _positions(h1, h2, k, len(bits) * 8)
    return ((bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0).all(axis=1)


def _fold(ops: list[tuple[str, bytes]], m: int, k: int) -> np.ndarray:
    """A bucket's bit array: the base blob (m read back from its length),
    or ``m`` zero bits for a delta-only chain, with the deltas OR-ed in."""
    bits = np.zeros(m // 8, dtype=np.uint8)
    for kind, payload in ops:
        if kind == _BASE:
            bits = np.frombuffer(payload, dtype=np.uint8).copy()
        else:
            _set_bits(bits, *_unpack_hashes(payload), k)
    return bits


class BloomSeenFilter:
    """Partitioned bloom over the URL-seen set, persisted in the catalog (see
    module docstring): base blobs = bit arrays built from a known URL set,
    deltas = packed hash pairs OR-ed in at fold time (order-independent)."""

    TABLE = "seen_filters"
    # Position-scheme version stamped on the table as a catalog marker.
    # Delta rows persist raw (h1, h2) hashes — scheme-independent — but base
    # blobs bake bit POSITIONS into bytes. A blob built under one scheme and
    # probed under another false-NEGATIVES silently (maybe_seen=False skips
    # the exact anti-join), which is the one direction the filter contract
    # forbids. Bump this string whenever _positions changes shape.
    # v2 = xorshift-folded base + odd stride, probes i=1..k (BASELINE.md r5)
    SCHEME = "bloom-pos-v2-xorfold"
    _SCHEME_MARKER = "position-scheme"

    def __init__(
        self,
        catalog: ManifestCatalog,
        n_buckets: int = 64,
        m_bits: int = 1 << 17,  # per bucket, for delta-only chains (no base)
        k_hashes: int = 7,
        compact_every: int = 16,
    ):
        self.catalog = catalog
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k_hashes
        self.compact_every = compact_every

    def _check_scheme(self, adopt: bool) -> None:
        """Refuse to interpret base blobs written under a different position
        scheme. Unmarked tables: an all-delta chain is portable (hashes, not
        positions), so it is adopted in place — the marker is written on the
        next write so future blobs are certified; an unmarked chain with any
        ``overwrite`` commit holds blobs that predate the marker and their
        positions cannot be trusted — rebuild from the source of truth (the
        exact seen-set table) instead of silently re-crawling."""
        marker = self.catalog.read_marker(self.TABLE, self._SCHEME_MARKER)
        if marker == self.SCHEME:
            return
        if marker is not None:
            raise ValueError(
                f"{self.TABLE}: persisted filter uses position scheme "
                f"{marker!r} but this build writes {self.SCHEME!r}; base "
                f"blobs are not portable across schemes (silent false "
                f"negatives) — rebuild the filter from the exact seen set"
            )
        modes = self.catalog.commit_modes(self.TABLE)
        if any(mode == "overwrite" for _cid, mode in modes):
            raise ValueError(
                f"{self.TABLE}: compacted base blobs predate the "
                f"position-scheme marker, so the scheme they were folded "
                f"under is unknown; refusing to probe (a scheme mismatch "
                f"false-negatives silently) — rebuild the filter from the "
                f"exact seen set"
            )
        if adopt:
            self.catalog.write_marker(self.TABLE, self._SCHEME_MARKER, self.SCHEME)

    def _hashed(self, urls: DataFrame) -> DataFrame:
        return with_bloom_hashes(urls, n_buckets=self.n_buckets).select(
            "__h1", "__h2", "__bucket"
        )

    # ------------------------------------------------------------------ build
    def build(self, urls: DataFrame, commit_id: str) -> None:
        """Fold ``urls`` (the whole set the filter must cover) into fresh
        base blobs, one overwrite commit; each bucket's bit array is sized
        from its own row count (``bit_array_size``). Idempotent by commit id."""
        self._check_scheme(adopt=True)
        if self.catalog.has_commit(self.TABLE, commit_id):
            return
        ver, k = len(self.catalog.commit_modes(self.TABLE)), self.k

        def fold(key, pdf: pd.DataFrame) -> pd.DataFrame:
            bits = np.zeros(bit_array_size(len(pdf)) // 8, dtype=np.uint8)
            _set_bits(bits, pdf["__h1"].to_numpy(), pdf["__h2"].to_numpy(), k)
            return pd.DataFrame(
                {"bucket": [int(key[0])], "ver": [ver], "kind": [_BASE],
                 "payload": [bits.tobytes()]}
            )

        blobs = self._hashed(urls).groupBy("__bucket").applyInPandas(fold, schema=BLOB_SCHEMA)
        # coalesce=1: <= n_buckets rows, and a single-partition write keeps a
        # parquet footer even when the set is empty
        self.catalog.commit(self.TABLE, blobs, commit_id, mode="overwrite", coalesce=1)

    def update(
        self, new_urls: DataFrame, commit_id: str, rebuild_from: DataFrame | None = None
    ) -> None:
        """Append this batch's packed hashes as one delta row per touched
        bucket (bytes ∝ batch). Once ``compact_every`` deltas follow the last
        base, a call given ``rebuild_from`` (every URL the filter must cover
        after this commit) rebuilds from it instead, bounding the chain."""
        self._check_scheme(adopt=True)
        if self.catalog.has_commit(self.TABLE, commit_id):
            return  # idempotent re-run
        log = self.catalog.commit_modes(self.TABLE)
        appends = 0
        for _, mode in reversed(log):
            if mode == "overwrite":
                break
            appends += 1
        if rebuild_from is not None and appends >= self.compact_every:
            self.build(rebuild_from, commit_id)
            return
        ver = len(log)

        def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {"bucket": [int(key[0])], "ver": [ver], "kind": [_ADD],
                 "payload": [_pack_hashes(pdf["__h1"].to_numpy(), pdf["__h2"].to_numpy())]}
            )

        deltas = self._hashed(new_urls).groupBy("__bucket").applyInPandas(pack, schema=BLOB_SCHEMA)
        # coalesce=1: delta commits are <= n_buckets tiny rows (footer as above)
        self.catalog.commit(self.TABLE, deltas, commit_id, coalesce=1)

    # ------------------------------------------------------------------ probe
    def flag_maybe_seen(self, candidates: DataFrame, upto: str | None = None) -> DataFrame:
        """Add boolean ``maybe_seen``: False = definitely never seen (bloom
        miss), True = needs the exact anti-join. Cogrouped by bucket so the
        chain is folded once per bucket, not once per row."""
        self._check_scheme(adopt=False)
        chain = self.catalog.read(self.TABLE, upto=upto)
        if chain is None:
            # an absent filter would flag everything definitely new
            raise ValueError(f"{self.TABLE}: no snapshot {upto!r} to probe; build it first")
        from pyspark.sql import types as T

        hashed = with_bloom_hashes(candidates, n_buckets=self.n_buckets)
        # fresh StructType — StructType.add() mutates the cached schema in place
        out_schema = T.StructType(
            [f for f in hashed.schema.fields if f.name != "__bucket"]
            + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        m, k = self.m_bits, self.k

        def probe(key, cand_pdf: pd.DataFrame, chain_pdf: pd.DataFrame):
            out = cand_pdf.drop(columns=["__bucket"])
            if not len(cand_pdf):
                return out.assign(maybe_seen=True)
            ops = _chain_rows(chain_pdf)
            if not ops:
                out["maybe_seen"] = False
                return out
            out["maybe_seen"] = _member(
                _fold(ops, m, k), cand_pdf["__h1"].to_numpy(), cand_pdf["__h2"].to_numpy(), k
            )
            return out

        flagged = (
            hashed.groupBy("__bucket")
            .cogroup(chain.groupBy("bucket"))
            .applyInPandas(probe, schema=out_schema)
        )
        return flagged.drop("__h1", "__h2")


def anti_join_by_hash(
    left: DataFrame, right: DataFrame, hash_col: str = "url_hash", url_col: str = "url"
) -> DataFrame:
    """left_anti keyed on the int64 hash ONLY, with url equality as a
    RESIDUAL condition for collision safety.

    The url check is written as the <=/>= pair on purpose: Catalyst's
    ExtractEquiJoinKeys lifts ANY ``l == r`` into the join key, which would
    put frontier-scale strings back onto the shuffle-hash/sort path. As a
    pair of range predicates it stays a post-match filter, so the exchange
    partitions and the SMJ sorts on the uniform int64 alone — several-fold
    fewer compared bytes for long URLs, identical semantics (a hash
    collision between different urls never drops the unseen url).
    """
    r = right.select(
        F.col(hash_col).alias("__r_hash"), F.col(url_col).alias("__r_url")
    )
    cond = (
        (left[hash_col] == r["__r_hash"])
        & (left[url_col] <= r["__r_url"])
        & (left[url_col] >= r["__r_url"])
    )
    return left.join(r, cond, "left_anti")


def anti_join_seen(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Exact dedup: drop candidates whose (url_hash, url) is in the seen set.

    Shuffles both sides on the uniform int64 hash (no host skew, no string
    sort keys); url equality rides along as a residual (anti_join_by_hash).
    """
    if seen is None:
        return candidates
    return anti_join_by_hash(candidates, seen.select("url_hash", "url"))


def dedup_new_urls(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: BloomSeenFilter | None,
    bloom_upto: str | None = None,
) -> DataFrame:
    """Bloom fast-path + exact anti-join backstop (see module docstring)."""
    if bloom is None or seen is None:
        return anti_join_seen(candidates, seen)
    flagged = bloom.flag_maybe_seen(candidates, upto=bloom_upto)
    definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definite_new.unionByName(anti_join_seen(maybe, seen))
