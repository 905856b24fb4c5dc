"""Connected components over an edge DataFrame — the full form of the
reference's file-grouping graph (group -> edges via itertools.combinations,
components implied by networkx; /root/reference/tests/graph_test.py:9-20,
SURVEY.md §2.3 J6).

Two algorithms, both pure DataFrame:

- ``connected_components`` — iterative min-label propagation:
  ``label(v) = min(label(v), min over neighbors(label(u)))`` to a fixpoint.
  One shuffle per round, O(graph diameter) rounds — right for the grouping
  workload (family graphs are star-shaped, diameter <= 2).
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond"):
  O(log n) rounds on ANY diameter, the 100x path for deep/social-shaped
  graphs. Each round is two groupBy-min + join passes over the shrinking
  edge set; convergence = edge-set signature fixpoint.

Scale notes: edges are symmetrized once; every round's shuffle keys on the
node id (uniform hash, no skew); label-prop early-exits via an ``observe``
counter on the rows that changed, and each round's result is
``localCheckpoint``ed so lineage stays O(1) instead of O(rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    ``edges`` is undirected input (each pair listed once is enough).
    """
    # materialize the (possibly expensive) edge lineage ONCE — labels and
    # the propagation frame both derive from this checkpoint, so e.g. an
    # LSH-verified-pairs input is computed a single time, not once per
    # consumer (same guard as connected_components_star's edges0).
    # Dirty-row policy (matches asof_join): a NULL endpoint identifies no
    # node, so the whole edge row is dropped — but a SELF-LOOP-only node
    # (a self-linking page) still belongs to the output, so self-loops are
    # removed from the propagation frame only, after the node universe.
    sym0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint()
    )
    labels = (
        sym0.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    sym = sym0.filter(F.col("a") != F.col("b")).distinct().localCheckpoint()

    converged = False
    for _ in range(max_rounds):
        # candidate labels flowing across edges this round
        flowed = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), "component")
        )
        obs = Observation()
        new_labels = (
            labels.select("node", "component")
            .unionByName(flowed)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        joined = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .select(
                "node",
                F.col("n.component").alias("component"),
                (F.col("n.component") != F.col("o.component")).alias("changed"),
            )
            .observe(obs, F.sum(F.col("changed").cast("long")).alias("n_changed"))
        )
        labels = joined.drop("changed").localCheckpoint()
        if int(obs.get["n_changed"] or 0) == 0:
            converged = True
            break
    if not converged:
        # loud failure beats silently-wrong components (graph diameter >
        # max_rounds): callers with legitimately deep graphs should raise
        # max_rounds or switch to large-star/small-star
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "graph diameter exceeds max_rounds"
        )
    return labels


def _large_star(E: DataFrame) -> DataFrame:
    """large-star(u): connect every STRICTLY-LARGER neighbor v > u to
    m = min({u} ∪ N(u)). Each undirected edge contributes from exactly one
    endpoint (its smaller one)."""
    S = E.select("a", "b").union(
        E.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = S.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.select("a", F.least("a", "mn").alias("m"))
    out = (
        S.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    # no trailing .distinct(): the only consumer is _small_star, whose
    # canonicalize+distinct dedups the identical rows anyway — the old
    # distinct was one full (a, b) exchange per round for nothing
    # (round 6, guide §2.4)
    return out.filter(F.col("a") != F.col("b"))


def _small_star(E: DataFrame) -> DataFrame:
    """small-star(u): over the canonical (larger -> smaller) orientation,
    connect u and all its smaller neighbors to their minimum."""
    S = (
        E.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = S.groupBy("a").agg(F.min("b").alias("m"))
    out = S.join(mins, "a").select(F.col("b").alias("a"), F.col("m").alias("b")).union(
        mins.select("a", F.col("m").alias("b"))
    )
    return out.filter(F.col("a") != F.col("b")).distinct()


def pagerank_millis(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_permille: int = 850,
) -> DataFrame:
    """Fixed-iteration PageRank in integer millis — the classic crawl-
    prioritization signal (rank frontier hosts/pages by link authority)
    under the repo's cross-engine integer contract: pr_0 = 1000,
    ``pr_{t+1}(v) = (1000 - d) + div(d * sum_u div(pr_t(u), outdeg(u)),
    1000)`` over distinct directed edges, truncating division at both
    steps, dangling mass dropped (documented simplification — determinism
    over stochastic-matrix purity; a fixed iteration count rather than a
    float convergence test keeps the DuckDB twin exactly unrollable).

    Scale shape: each iteration is ONE join of edges with the rank frame on
    src and ONE groupBy shuffle on dst (map-side combined), the canonical
    Spark PR shape; ranks are ``localCheckpoint``ed per round so lineage
    stays O(1) in iterations. Hub in-degree skew lands in the dst
    aggregation where partial aggregation absorbs it; AQE skew-join covers
    the src join."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    outd = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    base = 1000 - damping_permille
    pr = nodes.withColumn("pr_millis", F.lit(1000).cast("long"))
    for _ in range(iterations):
        contrib = (
            e.join(outd, "src")
            .join(pr.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("div(pr_millis, outdeg)").alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"div({damping_permille} * coalesce(s, 0L), 1000)")
                ).cast("long").alias("pr_millis"),
            )
            # per-iteration localCheckpoint stays (round 6): a lazy
            # 3-iteration lineage was tried and measured ~30% SLOWER at
            # sf0.1 — AQE re-plans each small checkpointed round with
            # accurate runtime sizes, which beats one deep 6-shuffle plan.
            .localCheckpoint()
        )
    return pr


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star — O(log n)
    rounds regardless of diameter (the label-prop twin above is O(diameter)).

    Convergence: at the fixpoint the edge set is a star forest (every edge
    points child -> component-min). Detected two ways, cheapest first
    (round 6): a direct star-forest test on the fresh edge set — no node is
    both a child and a parent, and no child has two parents — fires the
    round the forest FORMS (one small grouped job over the checkpointed
    frame), where the edge-set signature (count + xxhash64 sum, kept as the
    safety net; collision odds ~n/2^64, and a false stop would still
    require the next round to be a no-op) needs one more full star round
    just to observe that nothing changed. Near-dup graphs converge in 1-2
    rounds, so skipping the confirmation round is a ~33-50% cut.
    """
    edges0, E = _star_forest(edges, src=src, dst=dst, max_rounds=max_rounds)
    nodes = (
        edges0.select(F.col("a").alias("node"))
        .union(edges0.select(F.col("b").alias("node")))
        .distinct()
    )
    comp = E.groupBy("a").agg(F.min("b").alias("component"))
    return nodes.join(
        comp.select(F.col("a").alias("node"), "component"), on="node", how="left"
    ).select("node", F.coalesce("component", "node").alias("component"))


def star_forest_children(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """One ``node`` column: every node that is NOT its component's minimum —
    i.e. the drop list a dedup pass anti-joins with. In the converged star
    forest every edge points child -> component-min, so the children ARE
    the non-keepers; building the full (node, component) labeling (node
    universe + left join + component rollup, the tail of
    ``connected_components_star``) just to filter ``node != component``
    was three extra passes for the same set (round 6).

    ``pin_input=False``: the node universe is never read here, so the
    input-edge pin exists only to feed E's construction once — which the
    E checkpoint itself already guarantees. Skipping it drops one
    |pairs|-sized checkpoint write+read per drop-list build (round 6)."""
    _, E = _star_forest(
        edges, src=src, dst=dst, max_rounds=max_rounds, pin_input=False
    )
    return E.select(F.col("a").alias("node")).distinct()


def star_forest_labels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, component) for every node of a NON-SINGLETON component, read
    straight off the converged star forest: each edge is child ->
    component-min, so children label as (a, b) and the parents (the minima
    themselves) as (b, b). Callers that roll up multi-member clusters
    (minhash_dup_clusters) never see singleton components anyway, so the
    full ``connected_components_star`` tail — input pin for the node
    universe, union+distinct over both endpoints, component rollup and a
    left join back — was three extra corpus-of-pairs passes spent
    re-deriving rows the forest already holds (round 6). Self-loop-only
    nodes (singletons) are the ONLY rows the full labeling adds. One row
    per node, its min over both halves: a non-forest E (convergence by
    the signature safety net) still labels every node once."""
    _, E = _star_forest(
        edges, src=src, dst=dst, max_rounds=max_rounds, pin_input=False
    )
    return (
        E.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(E.select(F.col("b").alias("node"), F.col("b").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def _star_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    pin_input: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared large-star/small-star loop: returns (edges0, E) where edges0
    is the NULL-filtered input (the node universe's source) and E the
    converged star-forest edge set (child -> component-min, no self
    loops). See connected_components_star for the convergence contract.

    ``pin_input``: checkpoint the filtered input before deriving E. Needed
    whenever the CALLER also consumes edges0 (connected_components_star
    reads it for the node universe — without the pin the expensive edge
    lineage, e.g. LSH-verified pairs, would run once per consumer).
    Callers that only read E (star_forest_children) pass False: E's own
    checkpoint already bounds the lineage to one execution, so the extra
    pin is a wasted |pairs| write+read (round 6)."""
    # NULL-endpoint rows are dirty (they identify no node) and dropped
    # whole, the same contract as the label-prop twin and asof_join.
    edges0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    if pin_input:
        edges0 = edges0.localCheckpoint()
    obs0 = Observation()
    E = (
        edges0.filter(F.col("a") != F.col("b"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    prev_sig = None
    # emptiness observed on the checkpoint job itself (round 6) — the old
    # isEmpty() was a separate job per CC invocation
    converged = int(obs0.get["n"] or 0) == 0
    for _ in range(max_rounds):
        if converged:
            break
        # count + two xor-folded hash streams: overflow-free (ANSI mode) and
        # sound on a distinct edge set. Observed ON the checkpoint
        # materialization itself (round 6): the signature used to be a
        # separate aggregation job per round over the just-checkpointed
        # frame — observe() folds it into the job that writes the blocks.
        obs = Observation()
        E = (
            _small_star(_large_star(E))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(a, b))").alias("s1"),
                F.expr("bit_xor(xxhash64(b, a))").alias("s2"),
            )
            .localCheckpoint()
        )
        got = obs.get
        sig = (got["n"], got["s1"], got["s2"])
        if sig == prev_sig:
            converged = True
        prev_sig = sig
        if not converged:
            roles = (
                E.select(F.col("a").alias("node"), F.lit(1).alias("c"), F.lit(0).alias("p"))
                .union(E.select(F.col("b"), F.lit(0), F.lit(1)))
                .groupBy("node")
                .agg(
                    F.sum("c").alias("n_parents"),
                    F.max("c").alias("is_child"),
                    F.max("p").alias("is_parent"),
                )
            )
            converged = roles.filter(
                (F.col("n_parents") > 1)
                | ((F.col("is_child") == 1) & (F.col("is_parent") == 1))
            ).isEmpty()
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    return edges0, E


def resolve_redirects(
    edges: DataFrame,
    doubling_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Resolve HTTP-redirect chains to their final targets — the URL
    canonicalization pass a crawler runs before the seen-set check, so a
    chain of 301s dedupes to one frontier entry (ref analogue: the reference
    fetches through requests' follow-redirects and stores only the final
    body, crawlers/globus_base_preserved.py fetch path; here the chain is
    resolved set-wise over the whole frontier instead of per-request).

    Input: one row per redirecting URL (``src`` -> ``dst``); URLs absent
    from ``src`` are terminal. Output: one row per redirecting URL with
    ``final_dst`` (the URL reached after following at most ``2**rounds``
    hops), ``hops`` (chain length actually followed), and ``resolved``
    (False = still pointing at a redirecting URL after the hop budget, i.e.
    a redirect loop or an over-long chain — the crawler dead-letters these
    exactly like the reference dead-letters over-long fetch chains).

    Contract (what the DuckDB recursive-CTE twin states): follow edges for
    at most ``2**doubling_rounds`` hops; report the URL reached and the hop
    count. On a loop the walk is still well-defined — exactly the hop-budget
    number of steps — so both engines land on the same node of the cycle.

    Scale shape: pointer doubling — ``f_{k+1}(x) = f_k(f_k(x))`` — is one
    self-equi-join on the (uniform) URL key per round, so a chain of length
    m resolves in O(log m) joins, not m; each round's frame is
    ``localCheckpoint``ed (O(1) lineage). Redirect graphs are
    out-degree-1 by construction (one Location header per URL), so the
    join fan-out is exactly |edges| per round; hot MERGE targets (many
    srcs -> one dst) land on the build side and skew-split under AQE.
    """
    f = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.lit(1).cast("long").alias("hops"),
    ).localCheckpoint()
    for _ in range(int(doubling_rounds)):
        nxt = f.select(
            F.col("src").alias("j_src"),
            F.col("dst").alias("j_dst"),
            F.col("hops").alias("j_hops"),
        )
        f = (
            f.join(nxt, f["dst"] == nxt["j_src"], "left")
            .select(
                "src",
                F.coalesce("j_dst", "dst").alias("dst"),
                (F.col("hops") + F.coalesce("j_hops", F.lit(0))).alias("hops"),
            )
            .localCheckpoint()
        )
    still_redirecting = (
        edges.select(F.col(src).alias("dst"))
        .distinct()
        .withColumn("is_redirector", F.lit(True))
    )
    return f.join(still_redirecting, "dst", "left").select(
        "src",
        F.col("dst").alias("final_dst"),
        "hops",
        F.coalesce(~F.col("is_redirector"), F.lit(True)).alias("resolved"),
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle participation over an undirected simple graph —
    the local clustering signal (link-farm / spam-cluster detection on a
    web graph: organic link neighborhoods close triangles, farms don't).

    Exact count via the degree-ordered orientation (the MapReduce-classic
    Suri–Vassilvitskii "node-iterator++"): orient every edge from its
    (degree, id)-smaller endpoint to the larger, enumerate wedges only at
    each edge's LOW vertex (pairs of its out-neighbors), and close each
    wedge against the canonical undirected edge set. Every triangle is
    counted exactly once — at its (degree, id)-minimum corner — and the
    wedge fanout per vertex is bounded by its OUT-degree, which the
    orientation caps at O(sqrt(m)) even for a maximal hub, so the wedge
    frame stays near-linear on power-law web graphs where the naive
    per-vertex pairing is quadratic in hub degree.

    Plan: canonicalize+distinct (one shuffle), degree rollup (map-side),
    two joins keyed on vertices and the closure equi-join on the (x, y)
    pair, one final per-vertex rollup. No theta joins, no windows.
    Output: (v, degree, n_triangles) for every vertex, n_triangles = 0
    rows included.
    """
    # pinned (round 6): the canonical edge set feeds the degree rollup, the
    # orientation join AND the wedge-closure join — three consumers that
    # each re-ran the upstream canonicalize+distinct (and whatever join
    # produced the input edges) when left lazy
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("degree").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    wedges = (
        o.select("u", F.col("w").alias("x"))
        .join(o.select("u", F.col("w").alias("y")), "u")
        .filter(F.col("x") < F.col("y"))
    )
    tri = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    )
    per_v = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return deg.join(per_v, "v", "left").select(
        "v",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )
