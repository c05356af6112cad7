"""Graph analytics over relations (north-star extension): PageRank by
power iteration.

Together with ``dedup.dedup_clusters`` (connected components) this covers
the iterative-algorithm class the engine must support beyond SQL: per
round one join + one aggregate, the rank relation ``localCheckpoint``ed so
the lineage stays flat (without it Catalyst re-plans an exponentially
growing tree — same mechanics as the cluster loop, see dedup.py).

The reference has nothing graph-shaped; the input here is the co-purchase
pair graph (same single-scan bucket-groupBy pair generation as
``analytics.q_copurchase``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table

PR_DAMPING = 0.85
PR_ITERS = 8


def pagerank(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    n_iters: int = PR_ITERS,
    rank_partitions: int | None = None,
    edge_partitions: int | None = None,
) -> DataFrame:
    """(id, rank) after ``n_iters`` power iterations over a directed edge
    list (pass both directions for an undirected graph — then there are
    no dangling nodes and the plain update rule applies).

    Fixed iteration count, not a convergence test: deterministic cost,
    deterministic result, and no per-round driver scalar beyond the
    eager checkpoint.

    Scale shape (round-8 rewrite — found by the non-headliner timing
    sweep: the old form ran 17.3 s at sf0.1): the EDGE relation never
    moves inside the loop.  The degree join is static, so it is folded
    out of the loop ONCE into a cached weighted-edge relation
    (edges ⋈ broadcast(deg) — no shuffle, inherits the edge cache's
    partitioning), and the per-round (edge ⋈ rank) join broadcasts the
    O(nodes) rank relation instead of shuffling the O(edges) side.  The
    only per-round shuffle is the map-side-combined contribution
    aggregate — node-sized partials, never edge-sized rows.  The old
    form shuffled the full edge relation TWICE per round (rank join +
    degree join): 8 rounds × 2 edge shuffles was the whole cost.  At
    cluster scale the same split holds until the rank relation outgrows
    the broadcast budget (~100M+ nodes); past that, drop the two
    broadcast hints and pre-partition edges and ranks on src with
    ``rank_partitions`` so each round shuffles only the node-sized rank
    relation against the cached edge partitioning.

    ``edge_partitions`` sizes the cached weighted-edge relation —
    measured 0.73 → 0.30 s/round at sf0.1 going 64 → 8 partitions, and
    the mechanism is map-side-combine strength, not task count: the
    per-round shuffle carries ≈ min(nodes, edges/P) × P partial rows,
    so fat partitions collapse more edge rows per dst before the
    exchange.  Callers derive P from the corpus (~1M edge rows per
    partition, floored at 8 — CLAUDE.md's corpus-derived rule; a footer
    read, never a job) and the repartition hashes on src, so row→
    partition assignment is independent of upstream parallelism (a
    keyless round-robin would vary with the producer's layout and
    threaten pin determinism).  ``rank_partitions`` sizes the
    checkpointed rank relation (both callers leave it None).  Changing
    either knob on an oracle-checked path requires a pin regeneration +
    layout-independence re-check (tools/detcheck.py)."""
    # r12 setup restructure (measured 6.6 → ~4 s of the sf0.1 total):
    # checkpoint the NODE-SIZED degree relation once and derive the node
    # set, the node count, and the weighted-edge broadcast all FROM the
    # checkpoint — Spark 4 reuses no exchanges across duplicated
    # aggregate subtrees (CLAUDE.md), so the old form executed the
    # edge-degree aggregation THREE times (nodes_n's deg, its n_row
    # count, and ew's broadcast build) before the loop even started.
    # The edge relation itself is NOT persisted here: both callers pass
    # a cheap lineage (a projection/union over an already-persisted
    # relation — pair_support / textrank's distinct pairs), and caching
    # 2.4M sym-edge rows again on top of that cache was pure overhead;
    # the two passes over it (deg count + ew build) recompute a
    # projection of a cache hit.
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint()
    # the node set IS deg's key set — deriving it there saves the
    # separate distinct shuffle over the full edge relation
    n_row = deg.agg(F.count(F.lit(1)).alias("_n"))
    # attach the node count ONCE, outside the loop: (id, _n) is
    # checkpointed and reused every round — broadcasting the one-row
    # count per iteration would pin n_iters broadcast blobs on the
    # driver for no reason (observed driver-memory pressure at sf0.1
    # in a long default-heap session)
    nodes_n = deg.select(F.col("src").alias("id")).crossJoin(
        F.broadcast(n_row)
    )
    if rank_partitions:
        nodes_n = nodes_n.repartition(rank_partitions, "id")
    nodes_n = nodes_n.localCheckpoint()
    # static weighted-edge relation, built once: (src, dst, deg).  deg
    # stays a separate column (rank/deg in-loop, one IEEE division per
    # edge) rather than a premultiplied 1/deg weight — rank*(1/deg)
    # rounds twice and would shift pinned rank values for no win.
    ew = edges.join(F.broadcast(deg), "src")
    if edge_partitions:
        ew = ew.repartition(edge_partitions, "src")
    # CHECKPOINT, not persist (r13, the dedup_clusters lesson): a
    # persisted relation keeps its full logical tree and every round's
    # join re-canonicalizes it (pair_support's whole _bucket_pairs
    # pipeline rides inside the cache plan) — pure driver planning tax
    # × n_iters.  ExistingRDD makes per-round planning O(loop body);
    # blocks stay until the caller unpersists them (perfbench's
    # release_blocks) or stops the session.
    ew = ew.localCheckpoint()
    ranks = nodes_n.select(
        "id", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(n_iters):
        contribs = (
            ew.join(
                F.broadcast(ranks.withColumnRenamed("id", "src")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("_c"))
            .withColumnRenamed("dst", "id")
        )
        nxt = nodes_n.join(contribs, "id", "left").select(
            "id",
            (
                (1.0 - damping) / F.col("_n")
                + damping * F.coalesce(F.col("_c"), F.lit(0.0))
            ).alias("rank"),
        )
        if rank_partitions:
            nxt = nxt.repartition(rank_partitions, "id")
        ranks = nxt.localCheckpoint()
    # the final ranks are checkpointed, so nothing downstream re-reads
    # the edge blocks; like every per-round checkpoint they stay until the
    # caller unpersists them or stops the session
    return ranks


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) part-pair edges from shared orders — a
    projection of the session-shared ``dedup.pair_support`` relation
    (one build per sweep session; the pair rows are already distinct,
    so the old post-expansion .distinct() shuffle is gone too)."""
    from etl_embargo_spark.operators.dedup import pair_support

    pairs = pair_support(spark, sf_dir).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase part graph (detail form); pytest
    holds a pure-Python power-iteration oracle on the same edges
    (tests/test_extensions.py::TestPageRank)."""
    from etl_embargo_spark.catalog import table_rows

    # symmetric co-purchase edges measure ~4x lineitem rows (2.39M at
    # 600k); target ~1M edge rows per cached partition, floored at 8
    rows = table_rows(sf_dir, "lineitem", default=600_000)
    parts = max(8, (4 * rows) // 1_000_000)
    ranks = pagerank(copurchase_edges(spark, sf_dir), edge_partitions=parts)
    return ranks.select("id", F.round("rank", 8).alias("rank"))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered checksum-rollup of :func:`pagerank_ranks` (the node-level
    ranks stay pytest-checked): per id%8 group the node count, rank mass,
    and an order-insensitive hash-sum — small enough to pin as a literal
    DuckDB oracle at every SF (the detail relation is |parts|-sized and
    outgrows the pin cap at sf0.01)."""
    from etl_embargo_spark.operators.aggregates import rows_checksum

    r = pagerank_ranks(spark, sf_dir)
    return r.groupBy((F.col("id") % 8).cast("int").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # exact decimal sum (order-independent), ONE cast to double at the
        # end — decimals don't go to the hash compare (CLAUDE.md rule)
        F.sum(F.col("rank").cast("decimal(18,8)"))
        .cast("double")
        .alias("rank_mass"),
        rows_checksum("id", "rank").alias("rows_sum"),
    )

TRIANGLE_MIN_SUPPORT = 2


def support_edges(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = TRIANGLE_MIN_SUPPORT,
) -> DataFrame:
    """Undirected (a < b) co-purchase edges kept only when the pair
    co-occurs in at least ``min_support`` orders — the support floor that
    sparsifies the graph before any quadratic step (same floor idea as
    ``analytics.q_basket_lift``).  A filter over the session-shared
    ``dedup.pair_support`` relation."""
    from etl_embargo_spark.operators.dedup import pair_support

    return (
        pair_support(spark, sf_dir)
        .filter(F.col("n_ab") >= min_support)
        .select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    )


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supported co-purchase graph: edge count,
    wedge (open-triple) count, triangle count, and the global clustering
    coefficient 3·triangles/wedges.

    Scale shape: the classic degree-orientation trick — every edge is
    directed from its lower-(degree, id) endpoint, which caps any node's
    out-degree at O(√m), so the wedge join (e1 ⋈ e2 on the shared source)
    enumerates O(m^1.5) candidates instead of Σdeg² — the difference
    between feasible and not on a skewed 100 TB graph.  The degree
    relation is node-sized and broadcast; the wedge→closing-edge join
    shuffles on the (v, w) key.  Counts are exact (each triangle is
    produced exactly once: u→v, u→w, v→w with v<w in orientation order).
    """
    # the edge list feeds SIX consumers (deg, both orientation legs, the
    # wedge self-pair, the closing probe, the stats agg) — without a
    # lineage break every consumer would re-run the filter over the
    # shared pair_support cache per consumer (cheap but still ×6).
    # Lazy localCheckpoint = persist + lineage truncation with NO job
    # at build time (builders must stay job-free).
    edges = support_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(lower, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
        .localCheckpoint(eager=False)  # consumed 3× (e1, e2, closing)
    )
    # wedge endpoints must be compared in ORIENTATION order ((deg, id),
    # not raw id): the closing edge between v1 and v2 is itself oriented
    # by (deg, id), so an id-ordered wedge condition silently drops every
    # triangle whose closing edge runs against id order
    e1 = oriented.select(
        "u", F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    e2 = oriented.select(
        "u", F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closing, ["v1", "v2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    return (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


MARKOV_CONV = "purchase"  # absorbing conversion state
MARKOV_QUANTUM = 6


def journey_transitions(ev: DataFrame) -> DataFrame:
    """(from_state, to_state, n) counts of the first-order journey
    chain: per user, events in time order up to and including the FIRST
    conversion event; 'start' precedes the first event; a journey with
    no conversion ends in the absorbing 'null' state.

    One user-partitioned window pass over the event log (the
    q_transitions shape) — the output relation is |states|², constant
    at any corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            (F.col("event_type") == MARKOV_CONV).cast("int")
        )
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prior_convs"),
    ).filter(F.coalesce(F.col("prior_convs"), F.lit(0)) == 0)
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = seq.select(
        "user_id",
        F.coalesce(
            F.lag("event_type", 1).over(w2), F.lit("start")
        ).alias("from_state"),
        F.col("event_type").alias("to_state"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn_last"),
    )
    ends = steps.filter(
        (F.col("rn_last") == 1) & (F.col("to_state") != MARKOV_CONV)
    ).select(
        F.col("to_state").alias("from_state"),
        F.lit("null").alias("to_state"),
    )
    trans = steps.select("from_state", "to_state").unionByName(ends)
    return trans.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only (matrix solve — not SQL-expressible): Markov-chain
    removal-effect attribution.  User journeys (events up to the first
    purchase) become a first-order chain with absorbing states conv
    ('purchase') and null; base conversion probability comes from the
    absorbing-chain solve, and each channel's attribution is its
    REMOVAL EFFECT — how much conversion drops when the channel's
    outgoing edges are redirected to null — normalized to shares (the
    data-driven alternative to q_attribution's last-touch rule).

    Scale shape: the event log collapses to the |states|² transition
    relation in one window pass; ONLY that constant-size matrix reaches
    the driver (the covariance-partials contract), where numpy solves
    (I−Q)t = b per removal.  Quantized to MARKOV_QUANTUM decimals;
    pytest replays the identical counting + solve in pure
    numpy/Python (tests/test_extensions.py)."""
    import numpy as np

    ev = load_table(spark, sf_dir, "events")
    cells = journey_transitions(ev).collect()

    states = sorted(
        {r.from_state for r in cells}
        | {r.to_state for r in cells}
        | {"start", MARKOV_CONV, "null"}
    )
    channels = [
        s for s in states if s not in ("start", MARKOV_CONV, "null")
    ]

    def conv_prob(removed: str | None) -> float:
        trans = ["start"] + channels  # transient states
        idx = {s: i for i, s in enumerate(trans)}
        q = np.zeros((len(trans), len(trans)))
        b = np.zeros(len(trans))
        totals: dict[str, float] = {}
        for r in cells:
            if r.from_state in idx:
                totals[r.from_state] = totals.get(r.from_state, 0) + r.n
        for r in cells:
            if r.from_state not in idx:
                continue
            p = r.n / totals[r.from_state]
            if r.from_state == removed:
                continue  # removed channel: all mass -> null
            if r.to_state == MARKOV_CONV:
                b[idx[r.from_state]] += p
            elif r.to_state in idx and r.to_state != removed:
                q[idx[r.from_state], idx[r.to_state]] += p
            # else: to null, or into the removed channel -> null
        t = np.linalg.solve(np.eye(len(trans)) - q, b)
        return float(t[idx["start"]])

    base = conv_prob(None)
    effects = {
        c: max(base - conv_prob(c), 0.0) for c in channels
    }
    total = sum(effects.values()) or 1.0
    rows = [
        (
            c,
            round(base, MARKOV_QUANTUM),
            round(effects[c], MARKOV_QUANTUM),
            round(effects[c] / total, MARKOV_QUANTUM),
        )
        for c in sorted(channels)
    ]
    return spark.createDataFrame(
        rows,
        "channel string, base_conv double, removal_effect double, "
        "share double",
    )


LP_ITERS = 4
LP_TARGET_DEG = 8.0  # design mean neighbor count: supercritical (one
# giant component with a large hop diameter — the regime where fixed-
# round propagation yields real multi-community structure) but PINNED,
# so the edge count stays ~LP_TARGET_DEG*n/2 at every SF


def lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric spatial neighbor edges at a CORPUS-DERIVED radius (the
    q_dbscan density pin): with a fixed radius the mean degree grows
    with point density — measured ~188 neighbors/point at sf1 vs ~19 at
    sf0.1, turning the LPA loop quadratic in corpus size (23.6 s sf1,
    10.8x).  eps = sqrt(target*area/(pi*n)) pins the degree, so edges
    and loop cost stay linear."""
    import math

    from etl_embargo_spark.catalog import table_rows
    from etl_embargo_spark.operators.geo import (
        GEO_SPAN,
        customer_points,
        radius_pairs,
    )

    n = table_rows(sf_dir, "customer", default=1_500)
    eps = math.sqrt(LP_TARGET_DEG * GEO_SPAN * GEO_SPAN / (math.pi * n))
    pts = customer_points(load_table(spark, sf_dir, "customer"))
    # persist before symmetrizing: both union branches read the
    # bucket-expansion lineage (the _bucket_pairs "executes twice"
    # pitfall, same as copurchase_edges)
    base = radius_pairs(pts, eps).select("cust_a", "cust_b").persist()
    return base.select(
        F.col("cust_a").alias("src"), F.col("cust_b").alias("dst")
    ).unionByName(
        base.select(
            F.col("cust_b").alias("src"), F.col("cust_a").alias("dst")
        )
    )


def label_propagation(
    edges: DataFrame,
    n_iters: int = LP_ITERS,
    edge_partitions: int | None = None,
) -> DataFrame:
    """(id, label) community assignment after ``n_iters`` SYNCHRONOUS
    label-propagation rounds over a symmetric edge list: every node's
    label becomes the most frequent label among its neighbours, ties to
    the SMALLEST label — both rules exact-integer, so the result is
    deterministic across runs, partitionings, and engines (no random
    visit order, the classic LPA nondeterminism source).  Fixed round
    count, not convergence: deterministic cost and output, the same
    contract as :func:`pagerank`.

    Scale shape mirrors the pagerank rewrite: the cached edge relation
    never moves — each round broadcasts the node-sized label relation
    into the edge join, partial-aggregates (dst, label) counts map-side
    (the per-node distinct-label relation, far smaller than edges), and
    reduces the argmax per node as ``max(struct(n, -label))`` — one
    edge-stationary broadcast join + two node-ish-sized shuffles per
    round, no edge shuffle anywhere.  Past the broadcast budget
    (~100M+ nodes) the same fallback applies: drop the hint and
    co-partition edges and labels on dst."""
    # checkpoint, not persist (r13): the loop re-plans the edge
    # relation every round and a cached plan keeps the whole upstream
    # pipeline tree (dedup_clusters lesson); one materialization, then
    # every round plans against ExistingRDD
    if edge_partitions:
        edges = edges.repartition(edge_partitions, "dst")
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    edges_k = edges
    labels = labels.localCheckpoint()
    for _ in range(n_iters):
        nbr = edges_k.join(
            F.broadcast(labels.withColumnRenamed("id", "src")), "src"
        )
        counts = nbr.groupBy("dst", "label").agg(
            F.count(F.lit(1)).alias("n")
        )
        nxt = (
            counts.groupBy("dst")
            .agg(
                F.max(
                    F.struct(
                        F.col("n").alias("n"),
                        (-F.col("label")).alias("neg_label"),
                    )
                ).alias("m")
            )
            .select(
                F.col("dst").alias("id"),
                (-F.col("m.neg_label")).alias("label"),
            )
        )
        labels = nxt.localCheckpoint()
    return labels


def label_propagation_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label-propagation communities of the density-pinned spatial
    neighbor graph (:func:`lpa_edges`).  The geometric graph is the
    honest LPA input here: it has locality and a large hop diameter, so
    fixed-round propagation yields real multi-community structure —
    the dense co-purchase graph is diameter-~2 and any propagation
    rule degenerates to one global label on it (checked; CLAUDE.md
    degeneracy rule).  Detail form; pytest replays the identical
    synchronous update in pure Python on the same edges
    (tests/test_extensions.py::TestLabelPropagation)."""
    from etl_embargo_spark.catalog import table_rows

    sym = lpa_edges(spark, sf_dir)
    # neighbor pairs grow ~linearly in customers at the pinned density;
    # same corpus-derived fat-partition rule as pagerank_ranks
    rows = table_rows(sf_dir, "customer", default=1_500)
    parts = max(8, rows // 500_000)
    return label_propagation(sym, edge_partitions=parts)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered checksum-rollup of :func:`label_propagation_labels`
    (the node-level labels stay pytest-checked): per id%8 group the node
    count, distinct-community count, and an order-insensitive hash-sum —
    pinnable as a literal DuckDB oracle at every SF.  Community
    detection closes the graph family (pagerank centrality, triangle
    census, components in dedup_clusters) with the assignment-style
    clustering a 100 TB neighbor graph actually gets: per round one
    broadcast join against the stationary edge cache, never an edge
    shuffle."""
    from etl_embargo_spark.operators.aggregates import rows_checksum

    lab = label_propagation_labels(spark, sf_dir)
    return lab.groupBy((F.col("id") % 8).cast("int").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count_distinct("label").alias("n_labels"),
        rows_checksum("id", "label").alias("rows_sum"),
    )


TEXTRANK_MIN_LEN = 4  # crude content-word filter (POS tags need no engine)
TEXTRANK_TOP = 20


def textrank_edges(docs: DataFrame) -> DataFrame:
    """Symmetric distinct (src, dst) word-adjacency edges over the
    corpus — the TextRank co-occurrence graph (window = 2, content
    words only).  Pair expansion runs INSIDE each document's token
    array (codegen transform over sequence), so the only shuffle is the
    edge distinct — vocabulary-bounded, never corpus-bounded."""
    toks = F.expr(
        rf"filter(split(trim(lower(text)), '\\s+'), "
        rf"x -> length(x) >= {TEXTRANK_MIN_LEN})"
    )
    pairs = (
        docs.select(toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2), "
                    "i -> struct(t[i] AS src, t[i + 1] AS dst))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()  # two union branches + pagerank's loop read this
    )
    return pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only (iterative): TextRank keyword extraction — PageRank
    over the word-adjacency graph, top-TEXTRANK_TOP words by rank (ties
    by word).  The same power iteration as q_pagerank on a different
    graph; pytest replays both the edge construction and the iteration
    in pure Python (tests/test_extensions.py::TestTextRank)."""
    from etl_embargo_spark.catalog import table_rows

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    # the word-adjacency edge set is vocabulary-bounded, not
    # corpus-bounded — distinct pairs grow far slower than documents;
    # ~2k docs of edges per partition, floored at 8, keeps partitions
    # fat enough for the combine without starving cores on big vocabs
    parts = max(8, table_rows(sf_dir, "documents", default=5_000) // 2_000)
    ranks = pagerank(textrank_edges(docs), edge_partitions=parts)
    return (
        ranks.select(
            F.col("id").alias("word"), F.round("rank", 8).alias("rank")
        )
        .orderBy(F.col("rank").desc(), F.col("word"))
        .limit(TEXTRANK_TOP)
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-k core via iterative peel)
# ---------------------------------------------------------------------------

# The co-purchase graph's degree distribution is SF-INVARIANT by
# construction (baskets/order and parts both scale with SF: measured
# min/avg/max degree 42/116/206 at sf0.01, 38/120/222 at sf0.1,
# 28/120/242 at sf1), so a fixed k pins the BEHAVIOR here — unlike the
# density-scaling geometric corpora where a fixed parameter degenerates
# (CLAUDE.md).  The core transition is SHARP: k=85 cascades the whole
# sf1 graph to empty (~63 rounds of slow death), k=80 collapses the
# boundary-effect sf0.001 graph (its avg degree ~87 sits below the
# invariance regime), and k=65 is the measured all-SF sweet spot —
# non-trivial peel at every gate SF (drops 12/8/155 of 200/2000/20000
# nodes at sf0.001/0.01/0.1, ~2.9k at sf1; never collapses, ≤4 rounds).
# On a different corpus re-derive k from the measured degree
# distribution, not from this constant.
KCORE_K = 65
KCORE_MAX_ROUNDS = 30


def _kcore_state(
    spark: SparkSession, sf_dir: str, k: int = KCORE_K
) -> tuple[DataFrame, DataFrame, int]:
    """(persisted symmetric edges, converged node state, peel rounds) of
    the k-core peel — the node state is the checkpointed (src, deg)
    relation at the fixpoint, where deg is ALREADY the degree within the
    core subgraph (the delta decrements removed every edge to a dropped
    node), so rollups need no edge re-filter pass at all.

    Delta-peel (VERDICT r10 #3): the naive peel recounts degree over
    the FULL surviving edge relation every round, so total work is
    O(E · rounds) shuffle aggregations and rounds grow with cascade
    depth.  Here the full degree count runs ONCE; each round only
    DECREMENTS the neighbors of this round's dropped nodes (edges ⋈
    broadcast(drops) is a map-side hash filter whose aggregation input
    is the dropped nodes' incident edges, not all of E), so total
    aggregation work is O(E + Σ|incident(dropped)|) ≤ O(2E) no matter
    how many cascade waves the diameter forces.  Only the node-sized
    (src, deg) state checkpoints per round (past ~100M dropped-per-wave
    nodes swap the broadcasts for a src/dst co-partitioned join,
    pagerank's documented fallback).  Round semantics (simultaneous
    drop of all deg<k nodes per wave) and the converged fixpoint are
    identical to the naive peel — pins unchanged.  Convergence =
    alive-node count unchanged, counted on the checkpointed node
    state; a non-converged exhaustion of KCORE_MAX_ROUNDS raises
    (ADVICE r10) instead of silently returning a partial core.
    """
    # checkpoint, not persist (r13): per-round planning over the cached
    # pair_support pipeline plan was pure driver tax (dedup_clusters
    # lesson); ExistingRDD keeps each peel round's plan loop-sized
    edges = copurchase_edges(spark, sf_dir).localCheckpoint()
    deg0 = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint()
    n_prev = deg0.count()
    alive = deg0
    rounds = 0
    converged = False
    for _ in range(KCORE_MAX_ROUNDS):
        rounds += 1
        keep = alive.filter(F.col("deg") >= k)
        n = keep.count()
        if n == n_prev:
            converged = True
            break
        drops = alive.filter(F.col("deg") < k).select(
            F.col("src").alias("dst")
        )
        dec = (
            edges.join(F.broadcast(drops), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        alive = (
            keep.join(F.broadcast(dec), "src", "left")
            .select(
                "src",
                (
                    F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))
                ).alias("deg"),
            )
            .localCheckpoint()
        )
        n_prev = n
    if not converged:
        # ADVICE r10: a silent partial core is a wrong answer — the
        # sf1 k=85 scan needed ~63 waves, so a future k/corpus change
        # can legitimately exhaust the cap; fail fast like Shapley.
        raise RuntimeError(
            f"k-core peel did not converge in {KCORE_MAX_ROUNDS} rounds "
            f"(k={k}); raise KCORE_MAX_ROUNDS or re-derive k from the "
            "corpus degree distribution"
        )
    return edges, alive, rounds


def kcore_edges(
    spark: SparkSession, sf_dir: str, k: int = KCORE_K
) -> tuple[DataFrame, int]:
    """(surviving symmetric edge relation, peel rounds) of the k-core
    of the co-purchase part graph: repeatedly drop nodes with degree
    < k until stable.  The peel itself is the delta-peel in
    _kcore_state; this wrapper filters the persisted edge relation by
    the converged keep set ONCE (two broadcast semi-joins) for callers
    that need the actual core edges."""
    edges, alive, rounds = _kcore_state(spark, sf_dir, k)
    keep_ids = alive.filter(F.col("deg") >= k).select("src")
    cur = edges.join(F.broadcast(keep_ids), "src").join(
        F.broadcast(keep_ids.withColumnRenamed("src", "dst")), "dst"
    )
    return cur, rounds


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered one-row rollup of the KCORE_K-core: node count, edge
    count, peel rounds, and an order-insensitive checksum of the core
    node set (the q_pagerank checksum-rollup form — the node-level
    detail stays pytest-checked against a brute-force numpy peel,
    tests/test_extensions.py::TestKcore).

    The whole rollup reads the NODE-sized converged peel state, never
    the edge relation: at the fixpoint each survivor's deg is exactly
    its core-subgraph degree (every edge to a dropped node was
    delta-decremented), so n_core_edges = Σdeg/2 and the node
    count/checksum come from the same checkpointed relation — zero
    edge passes beyond the peel's own single full aggregation
    (rollup was 4.6 s of the 36.5 s sf1 cold total before this)."""
    from etl_embargo_spark.operators.aggregates import rows_checksum

    _edges, alive, rounds = _kcore_state(spark, sf_dir)
    core_nodes = alive.filter(F.col("deg") >= KCORE_K)
    return core_nodes.agg(
        F.count(F.lit(1)).alias("n_core_nodes"),
        (F.sum("deg") / 2).cast("bigint").alias("n_core_edges"),
        F.lit(rounds).cast("int").alias("peel_rounds"),
        rows_checksum("src").alias("nodes_sum"),
    ).select("n_core_nodes", "n_core_edges", "peel_rounds", "nodes_sum")


# ---------------------------------------------------------------------------
# HITS (hubs & authorities) on the bipartite customer->part graph
# ---------------------------------------------------------------------------

HITS_ITERS = 6


def hits_scores(
    spark: SparkSession,
    sf_dir: str,
    n_iters: int = HITS_ITERS,
    rounded: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(hubs, auths) after ``n_iters`` HITS rounds over the distinct
    customer->part purchase edges: auth(p) = sum of hub scores of its
    buyers, hub(c) = sum of authority scores of its parts, each side
    max-normalized per round.  Rounds are ENGINE-EXACT (ADVICE r10):
    incoming scores quantize to exact 12-dp integers and sum as
    bigints (exact, codegen-fast), the max of exact integers is exact,
    and normalization is one IEEE division of exactly-representable
    operands — bit-identical scores across any partitioning, so the
    pinned 8-dp detail has no rounding-boundary flake class at all
    (tools/hits_margin.py is the audit that motivated this; the
    raw-double margin was 66 ulps at sf1).

    Scale shape: the edge relation is built once, repartitioned by cust
    (corpus-derived fat partitions, the q_pagerank rule) and persisted;
    every round joins the node-sized score relation in BROADCAST form
    and shuffles only node-sized partials (map-side combined).  Same
    ~100M-node broadcast cliff and co-partition fallback as pagerank."""
    from etl_embargo_spark.catalog import table_rows

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rows = table_rows(sf_dir, "lineitem", default=600_000)
    parts = max(8, rows // 1_000_000)
    edges = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"), "l_partkey"
            ),
            "o_orderkey",
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
        .repartition(parts, "cust")
        # checkpoint, not persist (r13): 16 half-rounds re-planned the
        # cached join lineage every round (dedup_clusters lesson)
        .localCheckpoint()
    )
    hubs = (
        edges.select("cust")
        .distinct()
        .select("cust", F.lit(1.0).alias("h"))
        .localCheckpoint()
    )
    auth = None
    for _ in range(n_iters):
        # checkpoint the RAW node-sized sums FIRST, then max over the
        # checkpoint: the max is a duplicated subtree of the same
        # aggregate and Spark 4 reuses no exchanges across duplicated
        # subtrees (CLAUDE.md) — checkpointing AFTER the normalize ran
        # the edge join + aggregate TWICE per half-round (measured
        # 8.6 → 5.3 s at sf0.1).  The normalized view stays lazy: its
        # lineage is the checkpointed sums + one tiny crossJoin, so
        # depth stays constant without a second materialization.
        # engine-exact rounds (ADVICE r10 #1): each incoming score
        # (always in [0, 1] after the previous normalize) quantizes to
        # an exact 12-dp INTEGER (round(x·1e12) — bigint sums are exact
        # and keep whole-stage codegen, where a decimal accumulator
        # measured 2× the query), integer sums are merge-order-exact,
        # the max of exact integers is exact, and the normalization is
        # ONE IEEE division of exactly-representable operands — so
        # every score is bit-identical across runs/configs/partition
        # layouts and the pinned 8-dp detail has no rounding-boundary
        # flake class (the raw-double form's measured margin had shrunk
        # to 66 ulps at sf1).  Overflow bound: Σ ≤ n_neighbors·1e12,
        # safe to ~9M-neighbor nodes; past that (the same ~100M-node
        # cliff as the broadcasts) widen the sum to decimal(38,0).
        _q = lambda c: F.round(c * 1e12).cast("bigint")  # noqa: E731
        a_raw = (
            edges.join(F.broadcast(hubs), "cust")
            .groupBy("part")
            .agg(F.sum(_q(F.col("h"))).alias("a"))
            .localCheckpoint()
        )
        amax = a_raw.agg(F.max("a").alias("m"))
        auth = a_raw.crossJoin(F.broadcast(amax)).select(
            "part",
            (
                F.col("a").cast("double") / F.col("m").cast("double")
            ).alias("a"),
        )
        h_raw = (
            edges.join(F.broadcast(auth), "part")
            .groupBy("cust")
            .agg(F.sum(_q(F.col("a"))).alias("h"))
            .localCheckpoint()
        )
        hmax = h_raw.agg(F.max("h").alias("m"))
        hubs = h_raw.crossJoin(F.broadcast(hmax)).select(
            "cust",
            (
                F.col("h").cast("double") / F.col("m").cast("double")
            ).alias("h"),
        )
    if not rounded:
        # raw doubles, for the pin-margin audit (tools/hits_margin.py):
        # the pinned detail rounds to 8 dp, and the audit shows every
        # raw score sits far from an x.xxxxxxxx5 boundary relative to
        # partial-sum merge-order noise (~1 ulp), so the rounding can
        # never flip across runs/configs (ADVICE r10 #1, measured
        # margin recorded in SCALE.md r11)
        return (
            hubs.select("cust", F.col("h").alias("score")),
            auth.select("part", F.col("a").alias("score")),
        )
    return (
        hubs.select("cust", F.round("h", 8).alias("score")),
        auth.select("part", F.round("a", 8).alias("score")),
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered checksum-rollup of :func:`hits_scores` (per id%8
    group and side: node count, exact-decimal score mass, order-
    insensitive hash-sum — the q_pagerank rollup form; node-level
    detail is pytest-replayed in pure python,
    tests/test_extensions.py::TestHits)."""
    from etl_embargo_spark.operators.aggregates import rows_checksum

    hubs, auths = hits_scores(spark, sf_dir)

    def _rollup(df: DataFrame, id_col: str, side: str) -> DataFrame:
        return df.groupBy(
            (F.col(id_col) % 8).cast("int").alias("grp")
        ).agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("score").cast("decimal(18,8)"))
            .cast("double")
            .alias("score_mass"),
            rows_checksum(id_col, "score").alias("rows_sum"),
        ).select(F.lit(side).alias("side"), "grp", "n_nodes",
                 "score_mass", "rows_sum")

    return _rollup(hubs, "cust", "hub").unionByName(
        _rollup(auths, "part", "auth")
    )
