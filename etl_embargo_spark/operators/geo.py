"""Spatial operators (north-star extension): grid-blocked radius join —
the family representative for geospatial processing, built with the same
no-self-join blocking discipline as the dedup suite.

The synthetic tables carry no coordinates, so each customer gets a
DETERMINISTIC position from the engine-independent md5-uniform (the
q_hash_sample contract: geometry must not change when the engine does).
The join itself is the scale-correct spatial shape:

* points land in grid cells sized to the search radius, and each point
  replicates to its FORWARD HALF-NEIGHBORHOOD — home plus E, S, SE, SW
  (a bounded ×5, the spatial analog of LSH banding).  The forward set
  covers every unordered adjacent-or-same cell pair exactly once (the
  four backward directions are each the mirror of a forward one), so
  with the pair filter below every radius pair is emitted EXACTLY once
  and no trailing distinct is needed;
* candidate pairs come from ``dedup._bucket_pairs`` (groupBy cell →
  sorted collect_set → in-array expansion): one pass, one (cell, point)
  shuffle, NO self-join.  Pairs where both sides are shifted copies are
  dropped (their cells are non-adjacent, or the pair is generated in
  one of the two home buckets instead);
* the exact radius check runs on squared degree distance (pure
  arithmetic — no transcendentals, so the oracle compare is exact);
* cost is Σ|cell|², bounded by point density × radius², never |points|²
  (the deliberately-quadratic DuckDB oracle IS |points|²: the plan
  difference is the point).  The round-8 full-registry soak caught the
  original 3×3-both-sides form at sf1: ×9 replication generated each
  true pair in ~5 shared cells and a 14M-row distinct cleaned it up —
  37.9 s / ratio 16.4×; the half-neighborhood form has 3.2× fewer
  candidates and zero post-expansion shuffles.

The reference (m-lab/etl-embargo) has nothing spatial; extension scope
per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table

GEO_RADIUS_DEG = 0.2  # search radius (and grid cell size), in degrees
GEO_LAT_BASE = 40.0
GEO_LON_BASE = -5.0
GEO_SPAN = 10.0  # points scatter over a 10° × 10° box


def _md5_unit(key: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
        / F.lit(4294967296.0)
    )


def customer_points(cust: DataFrame) -> DataFrame:
    """(cust_id, lat, lon) with md5-deterministic synthetic coordinates."""
    key = F.col("c_custkey").cast("string")
    return cust.select(
        F.col("c_custkey").alias("cust_id"),
        (
            _md5_unit(F.concat(F.lit("lat:"), key)) * GEO_SPAN
            + F.lit(GEO_LAT_BASE)
        ).alias("lat"),
        (
            _md5_unit(F.concat(F.lit("lon:"), key)) * GEO_SPAN
            + F.lit(GEO_LON_BASE)
        ).alias("lon"),
    )


def radius_pairs(pts: DataFrame, radius: float) -> DataFrame:
    """All point pairs within ``radius`` (squared-degree metric) from a
    (cust_id, lat, lon) relation — the cell-blocked exactly-once pair
    expansion shared by :func:`q_spatial_join` (fixed radius) and
    :func:`dbscan_points` (corpus-derived eps).

    Each point replicates to its forward half-neighborhood (home, E, S,
    SE, SW); intra-cell pairs expand in-array (no self-join) and the
    shifted×shifted pairs are dropped, which makes every radius pair
    unique by construction — no distinct; the exact distance check is
    squared-degree arithmetic (engine-exact).  Output: (cust_a, cust_b,
    d2) with orientation cust_a < cust_b, preserved because the home
    flag sits LAST in the payload struct and ids are unique, so
    array_sort still orders by id."""
    from etl_embargo_spark.operators.dedup import _bucket_pairs

    cell_lat = F.floor(F.col("lat") / radius).cast("int")
    cell_lon = F.floor(F.col("lon") / radius).cast("int")
    offsets = F.expr(
        "explode(array(struct(0 AS dy, 0 AS dx), struct(0 AS dy, 1 AS dx),"
        " struct(1 AS dy, 0 AS dx), struct(1 AS dy, 1 AS dx),"
        " struct(1 AS dy, -1 AS dx)))"
    )
    replicated = pts.select(
        "cust_id",
        "lat",
        "lon",
        cell_lat.alias("cy"),
        cell_lon.alias("cx"),
        offsets.alias("o"),
    ).select(
        "cust_id",
        "lat",
        "lon",
        (F.col("cy") + F.col("o.dy")).alias("gy"),
        (F.col("cx") + F.col("o.dx")).alias("gx"),
        ((F.col("o.dy") == 0) & (F.col("o.dx") == 0)).alias("home"),
    )
    pairs = _bucket_pairs(
        replicated,
        ["gy", "gx"],
        F.struct(
            F.col("cust_id").alias("id"),
            F.col("lat").alias("plat"),
            F.col("lon").alias("plon"),
            F.col("home").alias("h"),
        ),
        max_bucket=None,
    ).filter(
        # at least one home occurrence: home×home = co-cell pair in its
        # own bucket; home×shifted = each adjacent cell pair exactly
        # once (a forward offset's mirror is never forward); both
        # shifted would be a duplicate or a non-adjacent cell pair
        F.col("a.h") | F.col("b.h")
    ).select(
        F.col("a.id").alias("cust_a"),
        F.col("b.id").alias("cust_b"),
        (
            (F.col("a.plat") - F.col("b.plat"))
            * (F.col("a.plat") - F.col("b.plat"))
            + (F.col("a.plon") - F.col("b.plon"))
            * (F.col("a.plon") - F.col("b.plon"))
        ).alias("d2"),
    )
    return pairs.filter(F.col("d2") <= F.lit(radius * radius))


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within GEO_RADIUS_DEG degrees of each other —
    the radius self-join every geo pipeline needs (store catchment
    overlap, sensor cross-matching), in the cell-blocked form that
    scales (see :func:`radius_pairs` for the exactly-once expansion)."""
    cust = load_table(spark, sf_dir, "customer")
    pairs = radius_pairs(customer_points(cust), GEO_RADIUS_DEG)
    return pairs.select(
        "cust_a", "cust_b", F.round(F.sqrt("d2"), 6).alias("dist_deg")
    )


DBSCAN_TARGET_DEG = 3.0  # design mean neighbor count (subcritical: the
# 2D continuum percolation threshold is ~4.5, so components stay small)
DBSCAN_MINPTS = 4  # core point: |N_eps(p)| >= minPts, self included
DBSCAN_TILE_CELLS = 64  # tile side in eps-cells: ~tile_cells²·deg/π
# points per tile at the pinned density (~3.9k at 64) — constant kernel
# state at any SF.  r12: 16 → 64 measured interleaved at sf0.1: the
# cross-tile boundary graph shrinks ∝ 1/side (329 → ~80 edges), the
# min-label loop drops 4 → 3 rounds and ~2 s, and run variance
# collapses (the 16-cell boundary loop was the query's noise source);
# 128/256 measured no further gain (rounds floor at 3).  Outputs are
# tiling-invariant (union-by-min roots → component minima), verified
# row-identical at sf0.1 and by the pinned oracles.


def _make_unionfind_kernel():
    """Per-tile union-find over intra-tile core edges → (id, root) with
    root = min id of the tile-local component.  Nested factory so the
    closure pickles by value (CLAUDE-rule: executor-shipped closures)."""

    def _kernel(pdf):
        import pandas as _pd

        out_id: list[int] = []
        out_root: list[int] = []
        # one Spark group carries MANY tiles: segment in-kernel
        for _, g in pdf.groupby(["ty", "tx"], sort=False):
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in zip(g["a"], g["b"]):
                a = int(a)
                b = int(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union-by-min: the surviving root is the smaller
                    # id, so converged roots ARE component minima
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            out_id.extend(parent.keys())
            out_root.extend(find(x) for x in parent)
        return _pd.DataFrame({"id": out_id, "root": out_root})

    return _kernel


def dbscan_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked DBSCAN over the customer points: (cust_id, role,
    cluster) with role in {core, border, noise}, cluster = min core id
    of the density-connected component (NULL for noise) — the
    density-based member of the clustering family (k-means/semdedup are
    centroid-based; this one discovers arbitrary-shape clusters and a
    noise set, no k).

    eps is CORPUS-DERIVED (parquet footer count, job-free): the radius
    that makes the expected neighbor count DBSCAN_TARGET_DEG at any SF
    (eps = sqrt(target*area/(pi*n))).  A fixed eps is qualitatively
    degenerate on a density-scaling corpus — at 10x density the graph
    percolates into one giant all-core cluster, at 0.1x everything is
    noise; pinning the DENSITY pins the structure (clusters + border +
    noise present at every SF) and keeps component diameters small, so
    the min-label component loop converges in a handful of rounds.

    Scale shape: neighbor pairs come from :func:`radius_pairs` (cell-
    blocked exactly-once expansion, cost ~ n * target_degree, never n²);
    degrees are one map-side-combined count; components run ONLY over
    core-core edges (per-tile union-find in-kernel, then
    dedup.dedup_clusters on the contracted boundary graph, far below its
    driver union-find bound); border assignment is one broadcast-sized
    join from the symmetric edge list to the core labels.  The pinned
    oracle is the role-level rollup; pytest replays the full algorithm
    brute-force (tests/test_extensions.py::TestDbscan)."""
    import math

    from etl_embargo_spark.catalog import table_rows
    from etl_embargo_spark.operators.dedup import dedup_clusters

    n = table_rows(sf_dir, "customer", default=1_500)
    eps = math.sqrt(
        DBSCAN_TARGET_DEG * GEO_SPAN * GEO_SPAN / (math.pi * n)
    )
    cust = load_table(spark, sf_dir, "customer")
    pts = customer_points(cust)
    # pairs feed four consumers (degrees via both legs, core-core
    # filter, border assignment): persist the exactly-once pair set
    pairs = (
        radius_pairs(pts, eps).select("cust_a", "cust_b").persist()
    )
    sym = pairs.select(
        F.col("cust_a").alias("src"), F.col("cust_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("cust_b").alias("src"), F.col("cust_a").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("n_nbr")
    )
    core = deg.filter(F.col("n_nbr") + 1 >= DBSCAN_MINPTS).select("id")
    core = core.persist()  # three consumers: two pair legs + the union
    core_pairs = (
        pairs.join(core.withColumnRenamed("id", "cust_a"), "cust_a", "semi")
        .join(core.withColumnRenamed("id", "cust_b"), "cust_b", "semi")
        .select(F.col("cust_a").alias("a"), F.col("cust_b").alias("b"))
    )
    # ---- tile contraction (the scale move) ------------------------
    # A flat min-label loop pays O(component point-diameter) rounds —
    # measured 24 checkpointed rounds (~9.5 s) at sf0.1, and pointer
    # doubling barely helps (24→19: a min-id hop lands on the least-
    # informed node, so hops don't compound on geometric graphs).
    # Instead: solve every TILE's components IN-KERNEL (union-find;
    # a tile is DBSCAN_TILE_CELLS² eps-cells ≈ a constant ~point
    # count at the pinned density, at ANY corpus size), then loop only
    # over the contracted cross-tile boundary graph, whose diameter is
    # the component's TILE span — corpus-independent because the
    # density pin keeps components local.  Tile coordinates re-derive
    # from the md5 geometry (id → coords is pure arithmetic), so no
    # join is needed to tag edges.
    def _tile(idcol, cells):
        key = idcol.cast("string")
        lat = (
            _md5_unit(F.concat(F.lit("lat:"), key)) * GEO_SPAN
            + F.lit(GEO_LAT_BASE)
        )
        lon = (
            _md5_unit(F.concat(F.lit("lon:"), key)) * GEO_SPAN
            + F.lit(GEO_LON_BASE)
        )
        span = float(eps * cells)
        return F.struct(
            F.floor(lat / span).cast("int").alias("ty"),
            F.floor(lon / span).cast("int").alias("tx"),
        )

    def _seg_width(cells: int) -> int:
        # repartition width for the per-tile kernels: capped by the
        # EXPECTED tile count so small SFs (where eps*cells exceeds the
        # 10° box and 1-4 tiles exist) don't fan 1-4 groups over 32
        # partitions (ADVICE r12); the rows-derived term keeps kernels
        # parallel on big corpora exactly as before.
        n_tiles = max(1, math.ceil(GEO_SPAN / float(eps * cells))) ** 2
        return max(1, min(max(32, n // 10_000), n_tiles))

    tagged = core_pairs.select(
        "a",
        "b",
        _tile(F.col("a"), DBSCAN_TILE_CELLS).alias("ta"),
        _tile(F.col("b"), DBSCAN_TILE_CELLS).alias("tb"),
    ).persist()
    intra = tagged.filter(F.col("ta") == F.col("tb")).select(
        "a", "b", F.col("ta.ty").alias("ty"), F.col("ta.tx").alias("tx")
    )
    # coarse Spark key, tile-segmented in-kernel (applyInPandas pays
    # ~ms per GROUP — thousands of tiny tile groups would cost more
    # than their kernels); explicit numbered repartition so AQE can't
    # coalesce the byte-small exchange and serialize the kernels
    n_seg = _seg_width(DBSCAN_TILE_CELLS)
    seg = (F.xxhash64("ty", "tx") % n_seg + n_seg) % n_seg
    roots = (
        intra.withColumn("_seg", seg)
        .repartition(n_seg, "_seg")
        .groupBy("_seg")
        .applyInPandas(
            _make_unionfind_kernel(), schema="id long, root long"
        )
    )
    labels0 = core.join(roots, "id", "left").select(
        "id", F.coalesce("root", F.col("id")).alias("root")
    ).persist()
    la = labels0.select(F.col("id").alias("a"), F.col("root").alias("ra"))
    lb = labels0.select(F.col("id").alias("b"), F.col("root").alias("rb"))
    bnd = (
        tagged.filter(F.col("ta") != F.col("tb"))
        .select("a", "b")
        .join(la, "a")
        .join(lb, "b")
        .filter(F.col("ra") != F.col("rb"))
        .select(F.col("ra").alias("a"), F.col("rb").alias("b"))
        .distinct()
    )
    comp = dedup_clusters(bnd, pointer_doubling=True).select(
        F.col("doc_id").alias("root"), "cluster"
    )
    # cores whose root never crossed a tile keep the local root as
    # cluster; isolated cores (no core neighbor) are singletons
    core_lab = labels0.join(comp, "root", "left").select(
        "id", F.coalesce("cluster", F.col("root")).alias("cluster")
    )
    # border: non-core with >= 1 core neighbor -> smallest CLUSTER ID
    # among its core neighbors (min over cluster, NOT the smallest-id
    # neighbor's cluster — these differ when the smallest-id neighbor
    # belongs to a larger-id cluster; deterministic either way, this is
    # the pinned semantics and what the brute-force pytest replays)
    border = (
        sym.join(
            core_lab.withColumnRenamed("id", "dst"), "dst"
        )
        .join(core.withColumnRenamed("id", "src"), "src", "anti")
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )
    labeled = core_lab.select(
        "id", F.lit("core").alias("role"), "cluster"
    ).unionByName(
        border.select("id", F.lit("border").alias("role"), "cluster")
    )
    return (
        pts.select(F.col("cust_id").alias("id"))
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce("role", F.lit("noise")).alias("role"),
            "cluster",
        )
    )


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered rollup of :func:`dbscan_points` (the point-level
    assignment stays pytest-checked): per role the point count, distinct
    cluster count, and an order-insensitive hash-sum — 3 rows, pinnable
    at every SF."""
    from etl_embargo_spark.operators.aggregates import rows_checksum

    d = dbscan_points(spark, sf_dir)
    return d.groupBy("role").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.count_distinct("cluster").alias("n_clusters"),
        rows_checksum(
            "id", F.coalesce(F.col("cluster"), F.lit(-1))
        ).alias("rows_sum"),
    )
