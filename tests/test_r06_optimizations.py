"""Pins for round-6 optimization internals.

Every round-6 change is result-identical by contract (the full registry is
parity-checked against the DuckDB oracles at two scale factors); these tests
pin the INTERNAL equivalences and edge-case rules the rewrites rely on, so a
future refactor cannot silently break them on inputs the synthetic fixtures
do not exercise.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_service_spark.operators import docdedup, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingle_sets_equals_distinct_exploded_shingles(spark):
    """Per-doc array_distinct == the old global (doc_id, shingle) DISTINCT:
    duplicated shingles inside a doc collapse, short docs vanish from the
    exploded view and carry an empty array in the set view."""
    docs = _docs(
        spark,
        [
            (1, "a b c a b c a b c"),          # internal duplicate shingles
            (2, "a b"),                        # shorter than n=3: no shingles
            (3, "x y z w"),                    # two distinct shingles
            (4, ""),                           # empty text
        ],
    )
    exploded = {
        (r["doc_id"], r["shingle"])
        for r in docdedup.shingles(docs, n=3).collect()
    }
    from_sets = {
        (r["doc_id"], s)
        for r in docdedup.shingle_sets(docs, n=3).collect()
        for s in r["sh_set"]
    }
    assert exploded == from_sets
    assert (1, "a b c") in exploded and (1, "b c a") in exploded
    # set semantics: doc 1's repeated "a b c" appears once
    doc1 = [s for d, s in sorted(from_sets) if d == 1]
    assert len(doc1) == len(set(doc1))
    # short/empty docs: empty array in the set view, absent from the explode
    sets = {r["doc_id"]: list(r["sh_set"]) for r in docdedup.shingle_sets(docs, n=3).collect()}
    assert sets[2] == [] and sets[4] == []


def test_verified_pairs_zero_overlap_candidates_drop(spark):
    """The array_intersect verify keeps the old inner-join contract even at
    threshold 0: a candidate pair sharing NO shingle must not surface."""
    # identical docs pair up; doc 3 shares a bucket only if signatures
    # collide, but regardless a pair with inter == 0 must never appear
    docs = _docs(
        spark,
        [
            (1, "p q r s t u v w"),
            (2, "p q r s t u v w"),
            (3, "aa bb cc dd ee ff gg hh"),
        ],
    )
    pairs = docdedup.minhash_verified_pairs(
        docs, num_hashes=8, bands=4, n=3, threshold_permille=0
    ).collect()
    assert all(r["jaccard_permille"] > 0 for r in pairs)
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard_permille"] for r in pairs}
    assert exact.get((1, 2)) == 1000  # identical docs: full Jaccard


def test_ngram_jaccard_posting_list_pair_enumeration(spark):
    """Posting-list enumeration reproduces the old self-join pair multiset:
    identical docs score 1000 permille; the df cut removes ultra-frequent
    shingles from sizes AND intersections alike."""
    shared = "one two three four five six"
    docs = _docs(
        spark,
        [
            (1, shared),
            (2, shared),
            (3, shared + " seven"),
            (4, "totally different words here now"),
        ],
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard_permille"]
        for r in docdedup.ngram_jaccard_pairs(
            docs, n=3, threshold_permille=1, max_shingle_freq=1000
        ).collect()
    }
    assert out[(1, 2)] == 1000
    # docs 1/3: 4 shared trigrams of doc1's 4, doc3 has 5 -> 4/(4+5-4)=800
    assert out[(1, 3)] == 800
    assert (1, 4) not in out
    # df cut at 2: every trigram of the shared sentence has df 3 (> 2) and
    # leaves the universe, so docs 1/2 keep no shingles and no pair survives
    cut = docdedup.ngram_jaccard_pairs(
        docs, n=3, threshold_permille=1, max_shingle_freq=2
    ).collect()
    assert all({r["doc_a"], r["doc_b"]} != {1, 2} for r in cut)


def test_ivf_assign_udf_tie_and_dirty_rules(spark):
    """Map-side IVF assignment pins the struct-min rules it replaced:
    ties go to the smaller cid; NULL / wrong-length vectors land on the
    smallest cid (their cosine is NULL downstream, so they never rank)."""
    cents = [(7, [0, 0]), (3, [0, 0]), (5, [10, 10])]  # cids 3 and 7 tie
    q = spark.createDataFrame(
        [(1, [0, 1]), (2, [10, 9]), (3, None), (4, [1, 2, 3])],
        "vec_id long, qv array<long>",
    )
    out = {
        r["vec_id"]: r["list_id"]
        for r in similarity.ivf_assign(q, cents_rows=cents).collect()
    }
    assert out[1] == 3      # equal scores under cids 3 and 7 -> smaller cid
    assert out[2] == 5      # genuinely nearest
    assert out[3] == 3      # NULL vector -> smallest cid
    assert out[4] == 3      # wrong-length vector -> smallest cid


def test_dup_span_scrub_edge_cases(spark):
    """Map-side position masking pins the old position-set-union contract:
    docs shorter than n stay whole, a fully-shared doc scrubs to md5(''),
    and overlapping duplicated spans merge instead of double-counting."""
    import hashlib

    from crawler_service_spark.operators import textquality

    shared = "s1 s2 s3 s4 s5 s6 s7"
    docs = _docs(
        spark,
        [
            (1, shared),
            (2, shared),
            (3, "tiny doc"),
            (4, "u1 u2 " + shared + " u3 u4"),
        ],
    )
    out = {r["doc_id"]: r for r in textquality.dup_span_scrub(docs, n=5).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # fully-shared docs scrub to nothing
    assert out[1]["n_kept"] == 0 and out[1]["scrubbed_md5"] == md5("")
    assert out[2]["n_kept"] == 0
    # short doc kept whole, byte-exact
    assert out[3]["n_kept"] == 2 and out[3]["scrubbed_md5"] == md5("tiny doc")
    # doc 4: the embedded 7-token shared run is removed once, end to end;
    # its unique prefix/suffix tokens survive in original order
    assert out[4]["n_tokens"] == 11 and out[4]["n_kept"] == 4
    assert out[4]["scrubbed_md5"] == md5("u1 u2 u3 u4")


def test_star_forest_labels_match_full_cc_on_multi_member_components(spark):
    """star_forest_labels (child -> min, min -> min read off the converged
    forest) must equal connected_components_star restricted to components
    with more than one member — on a graph that needs multiple star rounds
    (a path), plus a separate pair, an isolated self-loop node and NULL
    edge rows (dropped whole by both)."""
    from crawler_service_spark.operators.graph import (
        connected_components_star,
        star_forest_labels,
    )

    edges = spark.createDataFrame(
        [
            # a 6-node path: deep enough that the forest takes >1 round
            (10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
            # an ordinary pair
            (30, 31),
            # a self-loop only node: singleton component in the full
            # labeling, absent from the forest labels
            (40, 40),
            # dirty rows: dropped whole by both paths
            (None, 50), (51, None),
        ],
        "src long, dst long",
    )
    full = {
        (r["node"], r["component"])
        for r in connected_components_star(edges).collect()
    }
    forest = {
        (r["node"], r["component"]) for r in star_forest_labels(edges).collect()
    }
    comp_sizes: dict[int, int] = {}
    for _, c in full:
        comp_sizes[c] = comp_sizes.get(c, 0) + 1
    multi = {(n, c) for n, c in full if comp_sizes[c] > 1}
    assert forest == multi
    assert forest == {(n, 10) for n in range(10, 16)} | {(30, 30), (31, 30)}
    # the singleton (self-loop node) is exactly what the forest view drops
    assert (40, 40) in full and all(n != 40 for n, _ in forest)


def test_star_forest_labels_one_label_per_node_on_a_non_forest(spark, monkeypatch):
    """If the loop stops on a non-forest edge set (the signature safety net
    fires before every child points at its component's minimum), a node
    may be both child and parent, or a child of two parents: each node
    must still get exactly one label, the least component it reaches."""
    from crawler_service_spark.operators import graph

    E = spark.createDataFrame([(3, 1), (3, 2), (2, 1), (5, 4)], "a long, b long")
    monkeypatch.setattr(graph, "_star_forest", lambda edges, **kw: (edges, E))
    got = sorted(
        (r["node"], r["component"])
        for r in graph.star_forest_labels(E.toDF("src", "dst")).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]
