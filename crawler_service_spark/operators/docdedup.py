"""Document deduplication for training-data pipelines — exact and near-dup.

Five strategies over ``documents(doc_id, text, ...)``, all expressed as
DataFrame plans (shuffle-conscious; no driver-side loops):

- **exact**: md5(text) hash-groupBy, keep the smallest doc_id per hash. One
  shuffle on a uniform hash key.
- **word n-gram shingles + Jaccard**: explode distinct shingles, self-join on
  shingle to get co-occurrence counts, Jaccard = inter / (|A|+|B|-inter).
  The shingle join is the scale risk (hot shingles fan out quadratically), so
  ultra-frequent shingles are dropped first (stopword-shingle cut) — standard
  practice and bounded fan-out.
- **MinHash + LSH banding**: per-doc signature of ``num_hashes`` minima of
  seeded 32-bit hashes over shingles; band the signature, bucket-join on
  (band, band-signature) so candidate pairs come from equal buckets only —
  O(n·bands) shuffle instead of O(n²) compare. ``minhash_verified_pairs``
  composes the banding with a candidate-only true-Jaccard verification stage
  (LSH is the accelerator, verification keeps precision).
- **SimHash**: 32-bit sign-aggregated token-hash fingerprint per doc
  (explode + per-bit vote sum + reassemble); equal simhash -> near-dup group.
- **embedding cosine**: see operators/similarity.py.

Cross-engine hash contract as in textquality.h32 (md5-prefix), so every one of
these has an exact DuckDB oracle twin in __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.partitioning import widen
from .textquality import h32, h32_py, tokens_col

SIMHASH_BITS = 32


def exact_dedup(
    docs: DataFrame, text_col: str = "text", hash_col: str | None = None
) -> DataFrame:
    """One row per distinct text: keeper doc_id + duplicate count.

    ``hash_col`` names a PRECOMPUTED content-hash column to group on
    directly — on a corpus bucketed by that column (plans/bucketing.py) the
    aggregation then runs with ZERO Exchange: the standing-key shuffle was
    paid once at write time, which is the layout a 10^10-doc corpus that
    dedupes every ingest cycle wants (asserted in tests/test_bucketing.py)."""
    if hash_col is not None:
        keyed = docs.select(F.col(hash_col).alias("text_hash"), "doc_id")
    else:
        keyed = docs.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
    return keyed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups")
    )


def _shingle_arr(n: int, text_col: str, distinct: bool):
    """Per-row shingle-array column (all map-side; no explode, no shuffle).

    ``distinct=True`` dedupes INSIDE the row with ``array_distinct`` — per-doc
    set semantics equals the old global ``(doc_id, shingle) DISTINCT`` because
    the key always includes doc_id, but costs zero Exchange (guide §2.4)."""
    toks = tokens_col(text_col)
    arr = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    if distinct:
        arr = F.array_distinct(arr)
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]); emit [] for short docs
    return F.when(F.size(toks) >= n, arr).otherwise(F.array().cast("array<string>"))


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, shingle).

    ``distinct=True`` gives set semantics (Jaccard), deduped map-side inside
    each row (``array_distinct`` before the explode) — the old global
    ``.distinct()`` paid a full shuffle of the largest intermediate for rows
    that are already unique within their doc_id key (guide §2.4: remove
    shuffles outright). ``minhash_signatures`` passes False — min over
    duplicates equals min over the set.
    """
    return widen(docs).select(
        "doc_id", F.explode(_shingle_arr(n, text_col, distinct)).alias("shingle")
    )


def shingle_sets(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, sh_set): per-doc DISTINCT shingle ARRAY, entirely map-side.

    The verify stages intersect these arrays per candidate pair
    (``array_intersect``) instead of exploding and re-shuffling the whole
    corpus' shingles on the (doc, shingle) key — the guide §8 shape: decide
    on lightweight proxies, never move the heavy rows more than needed. At
    10^10 docs the corpus is SCANNED per lookup side but never exchanged."""
    return widen(docs).select(
        "doc_id", _shingle_arr(n, text_col, True).alias("sh_set")
    )


def _jaccard_scored(
    inter: DataFrame,
    sizes_a: DataFrame,
    sizes_b: DataFrame,
    threshold_permille: int,
) -> DataFrame:
    """Single-sourced Jaccard scoring shared by every verify path:
    given ``inter(doc_a, doc_b, inter)`` plus per-side set sizes
    ``sizes_a(doc_a, size_a)`` / ``sizes_b(doc_b, size_b)`` computed over
    the SAME shingle universe as the intersection, emit
    (doc_a, doc_b, jaccard_permille = div(1000*inter, |A|+|B|-inter))
    filtered at the threshold — integer-exact for the DuckDB oracle."""
    return (
        inter.join(sizes_a, "doc_a")
        .join(sizes_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("div(1000 * inter, size_a + size_b - inter)").alias("jaccard_permille"),
        )
        .filter(F.col("jaccard_permille") >= threshold_permille)
    )


def _sizes_ab(sizes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(doc_id, sh_count) -> the (doc_a, size_a) / (doc_b, size_b) views
    _jaccard_scored joins against when both pair sides size from one corpus."""
    return (
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("sh_count").alias("size_a")),
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("sh_count").alias("size_b")),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold_permille: int = 500,
    max_shingle_freq: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with Jaccard >= threshold (permille, integer math).

    jaccard_permille = div(1000*inter, |A|+|B|-inter) keeps the output
    integer-exact for the DuckDB oracle.

    Set semantics are CONSISTENT under the hot-shingle cut: ultra-frequent
    (df > max_shingle_freq) shingles are removed from the universe — from
    doc sizes AND intersections alike — so two identical docs stay at
    jaccard 1000 no matter how much boilerplate they share. (Sizing from
    the unfiltered sets while intersecting the filtered ones would
    systematically underestimate Jaccard for boilerplate-heavy docs and
    silently drop true near-duplicates.)

    Plan shape (round 6, guide §2.3/§2.4): the doc-frequency cut is a
    ``count() OVER (PARTITION BY shingle)`` window on the ONE shingle-keyed
    exchange (a hot boilerplate shingle spills in the window sort instead of
    materializing a giant posting array), the survivors aggregate into
    sorted per-shingle posting lists WITHOUT a second exchange (the groupBy
    reuses the window's hash partitioning), and co-occurring pairs are
    enumerated map-side from each posting list (ascending ids, so
    doc_a < doc_b by construction — the old shingle self-join generated the
    identical pair multiset through two more corpus-scale exchanges).
    Pair fanout per shingle is bounded by max_shingle_freq^2/2, exactly as
    the join fanout was.
    """
    from pyspark.sql import Window

    sh = shingles(docs, n=n, text_col=text_col)
    shf = sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    ).filter(F.col("df") <= max_shingle_freq)
    sizes = shf.groupBy("doc_id").agg(F.count("*").alias("sh_count"))
    posts = shf.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    pair_arr = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + 2, F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        posts.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_scored(inter, *_sizes_ab(sizes), threshold_permille)


MINHASH_P = 2147483647  # Mersenne prime 2^31-1: a*h+b stays < 2^62, no overflow


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Affine hash-family coefficients (a_i, b_i), h32-derived so both
    engines embed the identical literals."""
    a = [h32_py(f"mh-a:{i}") % (MINHASH_P - 1) + 1 for i in range(num_hashes)]
    b = [h32_py(f"mh-b:{i}") % MINHASH_P for i in range(num_hashes)]
    return a, b


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, mh_0..mh_{H-1}): per-doc minima of a universal hash family.

    Each shingle is md5-hashed ONCE (h = h32(shingle) mod p); the H functions
    are affine maps (a_i*h + b_i) mod p over that single hash — 16x fewer md5
    invocations than hashing per-function, identical math in DuckDB.

    Plan-shape note (round 6): a fully map-side array formulation
    (``array_min`` over per-doc transforms) was tried and MEASURED SLOWER
    (~3x at sf0.1) — higher-order functions evaluate interpreted, while this
    explode + groupBy runs in whole-stage codegen and its partial (map-side)
    aggregation collapses the exploded shingle stream to one 16-long row per
    doc per partition before the exchange, so the shuffle is |docs|-bounded
    at any corpus size (guide §2.3 "aggregate before you shuffle" was
    already satisfied; the exchange it would have removed was never the
    corpus-scale one).
    """
    a, b = minhash_coeffs(num_hashes)
    sh = shingles(docs, n=n, text_col=text_col, distinct=False).withColumn(
        "h", F.pmod(h32(F.col("shingle")), F.lit(MINHASH_P))
    )
    aggs = [
        F.min((F.lit(a[i]) * F.col("h") + F.lit(b[i])) % F.lit(MINHASH_P)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_buckets(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band, sig): one LSH bucket key per band per doc.

    In a stored-index deployment this frame IS the persisted minhash index —
    ``minhash_incremental_dups`` joins a new batch's buckets against it."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of bands ({bands}): "
            "trailing signature hashes would be computed but never banded, "
            "silently lowering recall below the configured banding probability"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes=num_hashes, n=n, text_col=text_col)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs from LSH banding over minhash signatures.

    Each band's sub-signature becomes a bucket key; docs sharing any bucket
    pair up. The band join shuffles on the (band, signature) key — high
    cardinality, skew-free — which is what makes this the 10^10-doc path
    (vs the all-pairs join above).
    """
    # pin the bucket frame: the self-join's two sides otherwise each re-run
    # the whole tokenize+shingle+signature pipeline over the corpus (no
    # exchange reuse across the two aggregation chains). |docs| x bands rows
    # of (long, int, string) — the same frame a deployment persists as the
    # standing minhash index (see minhash_incremental_dups).
    buckets = minhash_buckets(
        docs, num_hashes=num_hashes, bands=bands, n=n, text_col=text_col
    ).localCheckpoint()
    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_verified_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold_permille: int = 300,
    text_col: str = "text",
) -> DataFrame:
    """The full LSH dedup pipeline: minhash banding proposes candidates, true
    n-gram Jaccard verifies them — the precision gate every real dedup run
    needs (ref analogue: dedup-before-work, legacy/posix_crawler.py:131).

    The Jaccard verification runs ONLY over candidate pairs (the candidate
    set is the probe side), so the quadratic shingle self-join of
    ngram_jaccard_pairs never happens — this is the 10^10-doc shape.

    Round-6 plan shape (guide §8: decide with small rows): each side of a
    candidate pair looks up its per-doc DISTINCT shingle ARRAY
    (``shingle_sets`` — map-side, never exploded) and the pair scores as
    ``size(array_intersect(sa, sb))`` with sizes from the same arrays. The
    old formulation exploded the corpus' shingles and shuffled them on the
    (doc, shingle) key to rebuild exactly these intersections; now the only
    corpus-scale exchanges left are the LSH bucket join's. The candidate
    side carries an EXPLICIT broadcast hint: candidates are |pairs|-bounded
    (tiny next to the corpus) while the shingle-set side is the corpus —
    left to size estimates, the planner was observed broadcasting the
    corpus' shingle arrays instead, which is slow here and an OOM at
    10^10 docs. The hint sits on the pair frame alone, BEFORE the ``sa``
    lookup: hinting the enriched ``cand ⋈ sa`` frame broadcast every
    candidate's shingle array, so per-task memory grew with the near-dup
    cluster size. The ``sb`` lookup is left to the planner's estimates (a
    shuffle join once the enriched frame outgrows the broadcast threshold).
    A degenerate corpus whose bucket co-occupancy makes the
    candidate set itself corpus-sized should pre-split its buckets (the
    same regime minhash_incremental_dups' broadcast_candidates=False
    escape hatch covers).
    """
    cand = minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands, n=n, text_col=text_col)
    sets = shingle_sets(docs, n=n, text_col=text_col)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sb"))
    inter = (
        F.broadcast(cand).join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            F.size("sa").alias("size_a"),
            F.size("sb").alias("size_b"),
        )
        # pairs sharing no shingle never materialized in the old inner
        # intersection join — drop them before the threshold for exact
        # equivalence at ANY threshold (including 0)
        .filter(F.col("inter") > 0)
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            F.expr("div(1000 * inter, size_a + size_b - inter)").alias("jaccard_permille"),
        )
        .filter(F.col("jaccard_permille") >= threshold_permille)
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash per doc: per-bit majority vote over token hashes."""
    toks = widen(docs).select("doc_id", F.explode(tokens_col(text_col)).alias("tok"))
    h = toks.withColumn("h", h32("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(SIMHASH_BITS)
    ]
    voted = h.groupBy("doc_id").agg(*votes)
    acc = F.lit(0).cast("long")
    for bit in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit)).otherwise(0)
    return voted.select("doc_id", acc.alias("simhash"))


def simhash_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of docs sharing an identical simhash (near-dup clusters)."""
    return (
        simhash(docs, text_col=text_col)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def chunk_dedup(
    docs: DataFrame, chunk_tokens: int = 8, text_col: str = "text"
) -> DataFrame:
    """Chunk-level (paragraph-style) exact dedup across the corpus.

    The RefinedWeb/CCNet shape: split every document into consecutive
    ``chunk_tokens``-token chunks, keep only the FIRST occurrence of each
    distinct chunk corpus-wide (ordered by (doc_id, chunk index)), and report
    per-doc retention plus an md5 of the surviving text. The synthetic
    ``documents`` fixture has no newlines, so the chunking rule is the
    deterministic token-window proxy for paragraph splitting; the dedup
    machinery (global first-occurrence over a content hash) is the real
    operator (ref analogue: dedup-before-work, legacy/posix_crawler.py:131).

    Scale shape: one shuffle on the uniform chunk-hash key (the row_number
    window is per-hash-group, equivalent to a groupBy), then one shuffle back
    on doc_id. No skew: chunk hashes are uniform; a pathological hot chunk
    (e.g. boilerplate) still groups to a single count, not a fanout.
    """
    from pyspark.sql import Window

    toks = tokens_col(text_col)
    n_chunks = F.floor((F.size(toks) + F.lit(chunk_tokens - 1)) / F.lit(chunk_tokens))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
        ),
    )
    exploded = (
        widen(docs)
        .filter(F.size(toks) > 0)
        .select("doc_id", F.posexplode(chunks).alias("idx", "chunk"))
    )
    w = Window.partitionBy(F.md5(F.col("chunk"))).orderBy("doc_id", "idx")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("idx", "chunk"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.array_sort(F.collect_list(kept_struct)).alias("kept"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.expr("div(1000 * n_kept, n_chunks)").alias("kept_permille"),
            F.md5(
                F.concat_ws(" ", F.transform(F.col("kept"), lambda s: s["chunk"]))
            ).alias("kept_text_md5"),
        )
    )


def minhash_dup_clusters(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold_permille: int = 300,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup CLUSTERS with a canonical keeper: LSH-verified pairs form an
    undirected similarity graph; its connected components are the duplicate
    clusters; the minimum doc_id in each component is the keeper (what a
    training-data pipeline actually deletes against).

    Output: one row per multi-doc cluster —
    (cluster_id = keeper doc_id, n_members, members_md5 over the sorted ids).

    Scale shape: pairs come from the banded equi-join (no all-pairs), the
    component step is alternating large-star/small-star (O(log n) rounds),
    and the rollup is one shuffle on the component key. This is the standard
    MinHashLSH + CC dedup used on Common-Crawl-scale corpora.
    """
    pairs = minhash_verified_pairs(
        docs, num_hashes=num_hashes, bands=bands, n=n,
        threshold_permille=threshold_permille, text_col=text_col,
    )
    # star_forest_labels, not connected_components_star (round 6):
    # singleton components are the only rows the full labeling (input pin +
    # node universe + component rollup + left join) adds over reading
    # (child -> min, min -> min) straight off the converged forest, and
    # they cannot occur here anyway — verified pairs have doc_a < doc_b,
    # so no self-loop-only nodes exist. The n_members > 1 filter below is
    # therefore never the thing excluding singletons on this path; it
    # stays to pin the multi-member contract against a future change of
    # labeling source.
    from .graph import star_forest_labels

    cc = star_forest_labels(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("node")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("members_md5"),
        )
        .filter(F.col("n_members") > 1)
        .select(F.col("component").alias("cluster_id"), "n_members", "members_md5")
    )


def minhash_dup_ids(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold_permille: int = 300,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup DROP list: every cluster member except the min-id canonical
    keeper (one ``doc_id`` column) — the minhash analogue of
    similarity.semantic_dup_ids, shaped for composing into a corpus build
    as an anti-join. Docs in no cluster never appear, so the frame is
    |near-dup non-keepers|, not |corpus| — broadcastable at realistic dup
    rates.

    Round 6: reads the converged star forest's CHILDREN directly
    (graph.star_forest_children) — the full (node, component) labeling was
    built and then filtered back down to exactly this set."""
    from .graph import star_forest_children

    pairs = minhash_verified_pairs(
        docs, num_hashes=num_hashes, bands=bands, n=n,
        threshold_permille=threshold_permille, text_col=text_col,
    )
    return star_forest_children(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ).select(F.col("node").alias("doc_id"))


def minhash_cluster_histogram(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold_permille: int = 300,
    text_col: str = "text",
) -> DataFrame:
    """Cluster-size distribution over the near-dup clusters — the dedup
    report table corpus builds publish next to the mix (how much of the
    corpus sits in 2-doc clusters vs mega-clusters decides whether keeper
    selection or wholesale cluster drops are the right policy). Includes the
    size-1 row (docs in no cluster) so ``sum(n_docs)`` equals the corpus.

    Output: (n_members, n_clusters, n_docs = n_members * n_clusters).

    Scale shape: everything after minhash_dup_clusters is rollups over the
    cluster frame (|clusters| << |corpus|); the singleton row joins two
    1-row aggregates on a literal key — no corpus-scale work added."""
    sizes = minhash_dup_clusters(
        docs, num_hashes=num_hashes, bands=bands, n=n,
        threshold_permille=threshold_permille, text_col=text_col,
    ).select("n_members")
    hist = sizes.groupBy("n_members").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    total = docs.agg(F.count("*").alias("n_total")).withColumn("k", F.lit(1))
    covered = hist.agg(
        F.coalesce(F.sum(F.col("n_members") * F.col("n_clusters")), F.lit(0))
        .cast("long")
        .alias("n_covered")
    ).withColumn("k", F.lit(1))
    singles = (
        total.join(covered, "k")
        .select(
            F.lit(1).cast("long").alias("n_members"),
            (F.col("n_total") - F.col("n_covered")).cast("long").alias("n_clusters"),
        )
    )
    return hist.unionByName(singles).select(
        "n_members",
        "n_clusters",
        (F.col("n_members") * F.col("n_clusters")).cast("long").alias("n_docs"),
    )


def minhash_incremental_dups(
    new_docs: DataFrame,
    index_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold_permille: int = 300,
    text_col: str = "text",
    index_buckets: DataFrame | None = None,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Incremental dedup: flag docs in a NEW batch that near-duplicate a doc
    already in the INDEX corpus — the shape every rolling 100 TB ingest needs
    (dedupe tonight's crawl against the standing corpus without recomparing
    the corpus to itself).

    The index side's ``minhash_buckets`` frame is exactly what a deployment
    persists between runs — pass it as ``index_buckets`` to skip recomputing
    signatures over the standing corpus (streaming/neardup.py does); only the
    new batch's signatures are computed fresh, and the candidate join touches
    index buckets matching a new-batch key.
    Verification (true Jaccard) runs only over candidates. Output: one row per
    duplicated new doc — (doc_id, dup_of, jaccard_permille), best match by
    (jaccard desc, dup_of asc).

    ``broadcast_candidates`` (default True) broadcasts the candidate index-id
    frame so the corpus' text bytes never shuffle on doc_id. Candidate volume
    is bounded by the batch's bucket co-occupancy — which a degenerate index
    (many empty/boilerplate docs sharing identical band signatures) can make
    quadratic. Pass False there so the semi join degrades to a shuffle join
    instead of blowing the broadcast size limit / driver memory (same escape
    hatch as ``decontaminate(broadcast_benchmark=False)``).
    """
    from pyspark.sql import Window

    bn = minhash_buckets(new_docs, num_hashes=num_hashes, bands=bands, n=n, text_col=text_col)
    if index_buckets is None:
        index_buckets = minhash_buckets(
            index_docs, num_hashes=num_hashes, bands=bands, n=n, text_col=text_col
        )
    # pinned: ``cand`` feeds both the candidate-id semi join and the verify
    # join — unpinned, the batch x index bucket join ran twice (round 6)
    cand = (
        bn.select(F.col("doc_id").alias("doc_a"), "band", "sig")
        .join(index_buckets.select(F.col("doc_id").alias("doc_b"), "band", "sig"), ["band", "sig"])
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint()
    )
    # shingle ONLY the index docs that are candidates: at a 10^10-doc standing
    # corpus the verify stage must touch candidate rows, never re-tokenize the
    # whole index per batch. The candidate-id frame (one int64 per candidate,
    # bounded by the batch's bucket co-occupancy) broadcasts so the semi join
    # never shuffles the corpus' text bytes on doc_id.
    cand_ids = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    if broadcast_candidates:
        cand_ids = F.broadcast(cand_ids)
    cand_index_docs = index_docs.join(cand_ids, "doc_id", "semi")
    # verify on per-doc DISTINCT shingle ARRAYS (map-side; see
    # minhash_verified_pairs round-6 note) — the batch/index shingle streams
    # are never exploded or shuffled on the shingle key
    sets_a = shingle_sets(new_docs, n=n, text_col=text_col).select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sa")
    )
    sets_b = shingle_sets(cand_index_docs, n=n, text_col=text_col).select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sb")
    )
    # same explicit build-side pin as minhash_verified_pairs: the candidate
    # pair frame broadcasts, the batch/index shingle-set sides stream —
    # honoring the caller's broadcast_candidates escape hatch
    cand_b = F.broadcast(cand) if broadcast_candidates else cand
    enriched = cand_b.join(sets_a, "doc_a")
    if broadcast_candidates:
        enriched = F.broadcast(enriched)
    verified = (
        enriched
        .join(sets_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            F.size("sa").alias("size_a"),
            F.size("sb").alias("size_b"),
        )
        .filter(F.col("inter") > 0)  # exact twin of the old inner join
        .select(
            "doc_a",
            "doc_b",
            F.expr("div(1000 * inter, size_a + size_b - inter)").alias("jaccard_permille"),
        )
        .filter(F.col("jaccard_permille") >= threshold_permille)
    )
    w = Window.partitionBy("doc_a").orderBy(
        F.col("jaccard_permille").desc(), F.col("doc_b").asc()
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            "jaccard_permille",
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 5,
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing word n-grams with
    an evaluation set (the standard pre-training hygiene pass — a train doc
    that contains an eval question must not survive into the training mix).

    Per corpus doc: ``overlap_ngrams`` = number of its DISTINCT n-gram
    shingles that appear anywhere in the benchmark, ``contaminated`` =
    overlap >= ``min_overlap``.

    Scale shape: an eval suite's distinct-shingle set is tiny next to a
    10^10-doc corpus (thousands of items), so by default it broadcasts — the
    corpus side is scanned once, shingled map-side, and aggregated on the
    uniform doc_id key; the corpus never shuffles on shingle strings. Pass
    ``broadcast_benchmark=False`` when the "benchmark" side is itself a large
    corpus slice (the unconditional hint would otherwise hit the broadcast
    size limit instead of degrading to a shuffle join).
    Zero-overlap docs come back via a left join against the doc spine (a
    contaminated=false row per clean doc, not silence).
    """
    bench_sh = shingles(benchmark, n=n, text_col=text_col).select("shingle").distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    doc_sh = shingles(docs, n=n, text_col=text_col)
    overlap = (
        doc_sh.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_ngrams"))
    )
    return (
        widen(docs)
        .select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("overlap_ngrams"), F.lit(0)).cast("long").alias("overlap_ngrams"),
            (F.coalesce(F.col("overlap_ngrams"), F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )
