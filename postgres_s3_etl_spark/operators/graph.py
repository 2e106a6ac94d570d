"""Graph analytics over the part co-purchase graph (SURVEY.md §2.9,
round-3 addition).

Nodes are parts; an undirected edge joins two parts that appear in
the same order. This is the canonical retail graph (also the shape
of doc-link, user-follow, and citation graphs) and it exercises the
three standard distributed-graph kernels:

- degree distribution (one groupBy),
- triangle counting via the degree-ordered orientation trick,
- fixed-iteration PageRank as repeated join+aggregate.

Scale notes:
- Edge generation is a per-order self-join: orders have a bounded
  line count (≤7 in TPC-H, ~4 here), so pairs-per-order is a small
  constant — no quadratic blow-up, and the pair join shuffles on
  orderkey (already the lineitem layout).
- Triangle counting orients each edge from its lower-(deg, id)
  endpoint to the higher one. Every triangle is then counted
  exactly once, and the wedge join fans out from the LOW-degree
  endpoint — the classic trick that keeps hub nodes from emitting
  deg² wedges (Suri & Vassilvitskii's MR triangle counting).
- PageRank runs a FIXED 3 iterations (the oracle-checkable form;
  convergence-looped PR is the same join repeated). Per-edge
  contributions are computed as doubles (deterministic row-local
  IEEE ops) but SUMMED as DECIMAL(38,18) — exact, order-independent
  — then folded back to double. Spark and DuckDB therefore agree
  bit-for-bit, iteration by iteration, with no sequential fold.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_s3_etl_spark.catalog import load_table
from postgres_s3_etl_spark.session import session_memoized

#: PageRank damping and iteration count (fixed for oracle parity).
PR_DAMPING = 0.85
PR_ITERS = 3


#: Row-local pair generation from a sorted array column: every
#: (arr[i], arr[j]) pair with i < j, already canonical (a < b)
#: because the array is ascending. Bounded per row by the basket
#: size (≤7 line items per TPC-H order), never deg².
_PAIRS_FROM_SORTED = """
    IF(size({a}) < 2, array(),
       flatten(transform(sequence(0, size({a}) - 2), i ->
         transform(slice({a}, i + 2, size({a}) - i - 1), x ->
           named_struct('src', {a}[i], 'dst', x)))))
"""

#: Round-15 (VERDICT r14 task 2 + ADVICE): packed-pair generation
#: from an ASCENDING bigint array with the id-domain guard folded
#: INTO the packed expression itself. The round-14 formulation
#: emitted assert_true as a separate ``_guard`` column that the next
#: .select dropped — Catalyst pruned it, so the committed plans
#: carried no guard at all (dead code), and it checked the wrong
#: bound: the high word is multiplied by 2^32, so ids >= 2^31 wrap
#: SIGNED long — the safe domain is [0, 2^31). Folding the check
#: into the value the explode consumes makes it unprunable (the
#: physical plan now carries the raise_error branch; asserted by the
#: plan-shape test). O(1) per row: the array is ascending, so its
#: first/last elements bound the whole id domain.
_PACKED_PAIRS_GUARDED = """
    IF(size({a}) < 2, array(),
       IF({a}[0] >= 0 AND {a}[size({a}) - 1] < 2147483648L,
          flatten(transform(sequence(0, size({a}) - 2), i ->
            transform(slice({a}, i + 2, size({a}) - i - 1), x ->
              {a}[i] * 4294967296L + x))),
          raise_error(
            'packed wedge key overflow: node id outside [0, 2^31)')))
"""


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected edges (a < b): parts sharing an order.

    Round-14 plan rework (same edge set, same types): pairs are
    generated ROW-LOCALLY from each order's sorted distinct part
    array (one groupBy on the lineitem layout key + one distinct on
    the pair) instead of the distinct → self-join → distinct chain —
    one lineitem scan instead of two and two keyed exchanges instead
    of five (the per-order (orderkey, partkey) distinct rides the
    collect_set aggregate). Basket sizes are bounded (~4-7 items),
    so the per-row pair fan-out is a small constant — the same
    argument the old per-order join made, minus the join.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(F.expr(_PAIRS_FROM_SORTED.format(a="ps"))).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )


#: Round-15: memoized per sf_dir in the shared session memo (the
#: tokenizer _train_merges rationale): ten headline graph queries
#: each rebuilt + re-checkpointed this edge list (~2-2.5 s each at
#: sf0.1). localCheckpoint blocks survive clearCache() and live for
#: the application. bench.py restores the shared memo cold per rep
#: (the round-9 cold-memo protocol), so standing numbers price the
#: build as the driver's single pass does: the first graph query in
#: suite order pays it, later ones reuse it.
@session_memoized
def _edges_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return copurchase_edges(spark, sf_dir).localCheckpoint()


_EDGES_SQL = """
        op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        )
"""


#: Below this fact-table size the per-round edge shuffle is cheaper
#: than materializing a persisted hash layout (extra repartition +
#: cache-write pass, then per-round cached scans): measured at
#: sf0.1 (600k rows) persist made components 3.5 → 7.6-9.7 s, while
#: at sf1 (6M rows) it took 47 → 25 s. The crossover sits between.
ITER_LAYOUT_MIN_ROWS = 2_000_000

#: Storage level for the persisted iterative edge layouts (CC/LPA).
#: SERIALIZED memory+disk, chosen by interleaved measurement at sf10
#: (~56M symmetric edge rows): the PySpark .persist() default
#: (MEMORY_AND_DISK_DESER, on-heap deserialized) ran [164, 280] s
#: across two rounds — the cache+spill pressure the round-6 verdict
#: flagged as the α(1→10)=1.11 residual — while the serialized
#: level ran [130, 136] s (stable, ~25% faster best-vs-best) and
#: DISK_ONLY [123, 184] s (fast but erratic). Serialized columnar
#: batches shrink the heap footprint so the per-round label joins
#: stop competing with the layout for old-gen space.
ITER_LAYOUT_STORAGE = StorageLevel.MEMORY_AND_DISK


def _iter_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Layout decision for iterative-join edge frames: 0 → stay on
    the localCheckpoint path (small graph — per-round shuffles are
    cheaper than building a cached layout); otherwise the partition
    count for a persisted hash-partitioned layout (~400k fact rows
    per partition, clamped to [1×, 8×] parallelism) that lets every
    round's sort-merge join reuse the cached distribution and
    shuffle only the small iterating side. Sizing reads the parquet
    footer row count — no column scan."""
    par = spark.sparkContext.defaultParallelism
    try:
        from postgres_s3_etl_spark.catalog import table_row_count

        rows = table_row_count(sf_dir, "lineitem")
    except Exception:
        return 0
    if rows < ITER_LAYOUT_MIN_ROWS:
        return 0
    return max(par, min(8 * par, int(rows // 400_000) or 1))


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over the undirected edge list."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph: how many parts
    have k co-purchase partners. One pair-gen join + two groupBys,
    all partial-aggregatable."""
    deg = _degrees(_edges_ckpt(spark, sf_dir))
    return (
        deg.groupBy("deg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("deg")
    )


def _triangle_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, cu, cv) rows — one per triangle, via degree-ordered
    orientation (shared by graph_triangle_count and
    graph_clustering_coeff).

    Orient each undirected edge from its lower (deg, id) endpoint to
    the higher; every triangle has exactly one node with two
    out-edges, so joining oriented out-edges on their source and
    probing the closing oriented edge counts each triangle once.
    Wedges are generated at the LOW-degree endpoint — hubs never
    fan out.
    """
    # localCheckpoint, not persist: it materializes AFTER AQE has
    # coalesced the shuffle partitions (persist pins the raw
    # 200-partition pre-AQE layout — cached plans opt out of AQE
    # repartitioning — which turns this multi-join query into
    # thousands of empty tasks on a default-conf session) and it
    # truncates lineage so the three reuses below don't recompute
    # the pair-generation join.
    edges = _edges_ckpt(spark, sf_dir)
    deg = _degrees(edges)
    dsrc = deg.select(F.col("node").alias("src"), F.col("deg").alias("sdeg"))
    ddst = deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddeg"))
    low_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    # carry both endpoint degrees so wedge closure can re-derive the
    # canonical orientation and stay an EQUI-join (an OR-of-pairs
    # condition would fall off the hash-join path entirely)
    oriented = (
        edges.join(dsrc, "src")
        .join(ddst, "dst")
        .select(
            F.when(low_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(low_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
            F.when(low_first, F.col("ddeg")).otherwise(F.col("sdeg")).alias("vdeg"),
        )
        .localCheckpoint()  # reused 2x below (onbs, closing)
    )
    # Round-14: wedges are generated ROW-LOCALLY from each
    # center's out-neighbor array sorted by (deg, id) — the
    # canonical (cu, cv) orientation falls out of the sort
    # order, so the w1⋈w2 self-join and its two conditional
    # projections disappear; wedges shuffle/probe as ONE packed
    # BIGINT (cu·2³² + cv, overflow-guarded) and the closing
    # probe is a single-key semi join. (u, cu, cv) rows are
    # unchanged — graph_clustering_coeff still attributes
    # per-node counts from the same pipeline.
    onbs = oriented.groupBy("u").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("vdeg"), F.col("v")))
        ).alias("nb")
    )
    # Round-15 (VERDICT r14 task 2 + ADVICE): the id-domain guard is
    # folded INTO the packed expression (the round-14 assert_true
    # rode a pruned `_guard` column — dead code — and checked
    # nb[last].v, which under (vdeg, v) struct order is the
    # max-DEGREE neighbor's id, not the max id, against the wrong
    # 2^32 bound). forall checks every id against [0, 2^31) — O(deg)
    # per center row next to the O(deg²) wedge explode.
    wedges = onbs.select(
        "u",
        F.explode(
            F.expr(
                """IF(size(nb) < 2, array(),
                   IF(forall(nb, s ->
                        s.v >= 0 AND s.v < 2147483648L),
                      flatten(transform(sequence(0, size(nb) - 2), i ->
                        transform(slice(nb, i + 2, size(nb) - i - 1), x ->
                          nb[i].v * 4294967296L + x.v))),
                      raise_error(
                        'packed wedge key overflow: '
                        'node id outside [0, 2^31)')))"""
            )
        ).alias("ccv"),
    ).select("u", "ccv")
    # the closing side packs column values directly — guard them too
    # (an unchecked u >= 2^31 would wrap and could collide with a
    # valid wedge key, silently inventing triangles)
    closing = oriented.select(
        F.expr(
            """IF(u >= 0 AND u < 2147483648L AND
                  v >= 0 AND v < 2147483648L,
               u * 4294967296L + v,
               raise_error(
                 'packed wedge key overflow: node id outside [0, 2^31)'))"""
        ).alias("ccv")
    )
    return wedges.join(closing, "ccv", "leftsemi").select(
        "u",
        F.expr("ccv div 4294967296L").alias("cu"),
        (F.col("ccv") % F.lit(4294967296).cast("long")).alias("cv"),
    )


def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-bridge census: an edge is a LOCAL BRIDGE iff its
    endpoints share no common neighbor (it closes no triangle) —
    Granovetter's weak-tie / bottleneck edges, the ones whose removal
    lengthens paths and which graph partitioners must not cut last.
    Emits total edges, bridge count, and the bridge fraction.

    Scale shape: reuses the degree-ordered oriented triangle
    pipeline (_triangle_triples — hubs never fan out), projects each
    triangle onto its three canonical edges, and removes them from
    the edge list with one anti-join; two counting rollups close it.
    """
    edges = _edges_ckpt(spark, sf_dir)
    tri = _triangle_triples(spark, sf_dir)
    pair = lambda x, y: [  # noqa: E731
        F.least(F.col(x), F.col(y)).alias("a"),
        F.greatest(F.col(x), F.col(y)).alias("b"),
    ]
    tri_edges = (
        tri.select(*pair("u", "cu"))
        .unionAll(tri.select(*pair("u", "cv")))
        .unionAll(tri.select(*pair("cu", "cv")))
        .distinct()
    )
    bridges = edges.join(
        tri_edges,
        (edges.src == tri_edges.a) & (edges.dst == tri_edges.b),
        "leftanti",
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    n_e = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_b = bridges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bridges")
    )
    return n_e.crossJoin(F.broadcast(n_b)).select(
        "n_edges",
        "n_bridges",
        # empty-graph guard: 0 edges -> NULL fraction, not a
        # DIVIDE_BY_ZERO task failure under ANSI mode
        f6(
            F.when(
                F.col("n_edges") > 0,
                F.col("n_bridges").cast("double")
                / F.col("n_edges").cast("double"),
            )
        ).alias("bridge_frac"),
    )


#: Rich-club degree thresholds probed.
RICH_CLUB_KS = (4, 8, 16, 32)


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) at fixed
    degree thresholds — do the high-degree parts preferentially
    co-purchase with each other (φ→1: an elite clique; φ≈density:
    no club)? The hub-interconnection diagnostic read before
    trusting hub-based sampling or partitioning heuristics.

    Scale shape: one degree rollup; the edge pass joins degrees at
    both endpoints once and explodes only the constant threshold
    array (4 rows per edge); counts fold with map-side combine.
    """
    edges = _edges_ckpt(spark, sf_dir)
    deg = _degrees(edges)
    ks = F.array(*[F.lit(k) for k in RICH_CLUB_KS])
    nodes_k = (
        deg.select(F.explode(ks).alias("k"), "deg")
        .where(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("deg").alias("dsrc"))
    db = deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddst"))
    edges_k = (
        edges.join(da, "src")
        .join(db, "dst")
        .select(
            F.explode(ks).alias("k"),
            "dsrc",
            "ddst",
        )
        .where((F.col("dsrc") > F.col("k")) & (F.col("ddst") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_club_edges"))
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        nodes_k.join(edges_k, "k", "left")
        .select(
            "k",
            "n_nodes",
            F.coalesce("n_club_edges", F.lit(0)).cast("bigint").alias(
                "n_club_edges"
            ),
            f6(
                F.when(
                    F.col("n_nodes") > 1,
                    2.0
                    * F.coalesce("n_club_edges", F.lit(0)).cast("double")
                    / (
                        F.col("n_nodes").cast("double")
                        * (F.col("n_nodes") - 1).cast("double")
                    ),
                )
            ).alias("phi"),
        )
        .orderBy("k")
    )


#: Power-law tail threshold (degrees >= dmin enter the MLE).
POWERLAW_DMIN = 4


def graph_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-MLE power-law exponent of the degree distribution
    (Clauset–Shalizi–Newman form at a fixed cutoff):
    ``α̂ = 1 + n / Σ ln(dᵢ/dmin)`` over degrees ≥ dmin — the
    heavy-tail diagnostic that decides whether hub-aware strategies
    (salting, degree-capped wedges, rich-club checks) are worth
    their complexity on this graph. Emits the exponent, tail size,
    and tail fraction.

    Cross-engine determinism: degrees are exact counts; each
    ln(d/dmin) term pins to DECIMAL(38,6) before the fold; α̂ and
    the tail fraction are mirrored expressions.
    """
    deg = _degrees(_edges_ckpt(spark, sf_dir))
    tail = deg.where(F.col("deg") >= POWERLAW_DMIN)
    terms = tail.select(
        F.log(
            F.col("deg").cast("double") / F.lit(float(POWERLAW_DMIN))
        )
        .cast("decimal(38,6)")
        .alias("t")
    )
    stats = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.sum("t").alias("lsum"),
    )
    total = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return stats.crossJoin(F.broadcast(total)).select(
        "n_nodes",
        "n_tail",
        # empty-graph / degenerate-tail guards: 0 nodes or a tail
        # sitting entirely at dmin (lsum = 0) yield NULL, not an
        # ANSI DIVIDE_BY_ZERO task failure
        f6(
            F.when(F.col("n_nodes") > 0, d("n_tail") / d("n_nodes"))
        ).alias("tail_frac"),
        f6(
            F.when(
                F.col("lsum") > 0,
                F.lit(1.0) + d("n_tail") / d("lsum"),
            )
        ).alias("alpha_mle"),
    )


def graph_attr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical (brand) assortativity of the co-purchase graph —
    Newman's discrete mixing coefficient
    ``r = (Σᵢeᵢᵢ − Σᵢaᵢbᵢ) / (1 − Σᵢaᵢbᵢ)`` over the brand mixing
    matrix (eᵢⱼ = fraction of directed edge ends joining brand i to
    j; aᵢ, bᵢ its marginals): do parts co-purchase within their own
    brand (r → 1) or across brands (r < 0)? The categorical
    companion to the numeric degree assortativity, and the signal
    that decides whether brand makes a useful blocking/partitioning
    key for this graph.

    Cross-engine determinism: mixing-matrix cells are exact BIGINT
    counts over the symmetric edge list; the Σeᵢᵢ and Σaᵢbᵢ folds
    pin per-term DECIMAL(38,18). Scale shape: edges join the part
    projection at both endpoints (partkey equi-joins), one
    (brand, brand) rollup — bounded at |brands|² — then scalar math.
    """
    edges = _edges_ckpt(spark, sf_dir)
    brands = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ba = brands.select(
        F.col("p_partkey").alias("src"), F.col("p_brand").alias("brand_a")
    )
    bb = brands.select(
        F.col("p_partkey").alias("dst"), F.col("p_brand").alias("brand_b")
    )
    mix = (
        sym.join(ba, "src")
        .join(bb, "dst")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = mix.agg(F.sum("c").cast("bigint").alias("m2"))
    marg_a = mix.groupBy("brand_a").agg(
        F.sum("c").cast("bigint").alias("ca")
    )
    marg_b = mix.groupBy("brand_b").agg(
        F.sum("c").cast("bigint").alias("cb")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    diag = (
        mix.where(F.col("brand_a") == F.col("brand_b"))
        .crossJoin(F.broadcast(tot))
        .select((d("c") / d("m2")).cast("decimal(38,18)").alias("e"))
        .agg(F.sum("e").alias("tr"))
    )
    ab = (
        marg_a.join(
            marg_b, marg_a.brand_a == marg_b.brand_b
        )
        .crossJoin(F.broadcast(tot))
        .select(
            ((d("ca") / d("m2")) * (d("cb") / d("m2")))
            .cast("decimal(38,18)")
            .alias("p")
        )
        .agg(F.sum("p").alias("sab"))
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        diag.crossJoin(F.broadcast(ab))
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("m2") / 2).cast("bigint").alias("n_edges"),
            f6(F.col("tr").cast("double")).alias("same_brand_frac"),
            f6(
                (F.col("tr").cast("double") - F.col("sab").cast("double"))
                / (F.lit(1.0) - F.col("sab").cast("double"))
            ).alias("assortativity"),
        )
    )


def graph_knn_degree_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve k_nn(k) — the functional form
    behind the single assortativity number (rising = assortative
    core, falling = disassortative hub-periphery): for each degree
    class k, the mean over its nodes of their mean neighbor degree.
    This is what decides whether degree is a usable load predictor
    when partitioning the graph.

    Cross-engine determinism: neighbor-degree sums are exact
    BIGINTs; each node's mean pins to DECIMAL(38,6) before the
    per-degree-class fold. Scale shape: degrees join the symmetric
    edge list once, one node rollup, one degree-class rollup — all
    partial-aggregatable.
    """
    edges = _edges_ckpt(spark, sf_dir)
    deg = _degrees(edges)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nbdeg = deg.select(
        F.col("node").alias("dst"), F.col("deg").alias("nb_deg")
    )
    per_node = (
        sym.join(nbdeg, "dst")
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("nb_deg").cast("bigint").alias("s"),
        )
        .select(
            "k",
            (F.col("s").cast("double") / F.col("k").cast("double"))
            .cast("decimal(38,6)")
            .alias("knn"),
        )
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        per_node.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("knn").alias("ksum"),
        )
        .select(
            F.col("k").alias("degree"),
            "n_nodes",
            f6(
                F.col("ksum").cast("double") / F.col("n_nodes").cast("double")
            ).alias("mean_neighbor_degree"),
        )
        .orderBy("degree")
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count (see _triangle_triples for the
    degree-ordered orientation that keeps hubs from emitting deg²
    wedges)."""
    return _triangle_triples(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


#: Wedge-center degree cap for square counting — same rationale as
#: JACCARD_DEG_CAP: a center of degree d fans out C(d,2) wedges, so
#: hubs are capped (identically in the oracle) to keep the wedge
#: frame at Σ_{deg≤cap} C(deg,2) ≤ cap·|E|/2 instead of Σ deg².
SQUARES_DEG_CAP = 64


def graph_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square (4-cycle) census over the co-purchase graph, capped at
    hub centers: wedges (a, c) through each center b with
    deg(b) ≤ SQUARES_DEG_CAP are rolled up per endpoint pair, and
    each pair with w common centers contributes C(w, 2) squares
    through that diagonal. Squares are the next motif after
    triangles — two parts co-purchased through two DISJOINT
    intermediaries (substitute/bridge structure that triangle
    metrics are blind to) — and the square census is the standard
    bipartite-ish cohesion diagnostic for co-occurrence graphs.

    Emits exact integers only: wedge totals, connected endpoint
    pairs, and the diagonal-pair square count Σ C(w,2) (each square
    is seen once per counted diagonal; under the cap a square whose
    two diagonals' centers straddle the cap contributes once —
    the capped census, applied identically in both engines).

    Scale shape: one degree rollup, wedge fan-out ONLY from capped
    centers (≤ cap·|E| rows, never Σ deg² unbounded), one (a, c)
    rollup, one scalar aggregate — all equi-joins on node keys.
    """
    edges = _edges_ckpt(spark, sf_dir)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = _degrees(edges)
    centers = deg.where(
        (F.col("deg") >= 2) & (F.col("deg") <= SQUARES_DEG_CAP)
    ).select("node")
    # LEFT SEMI, not inner: an inner join here let the planner pick
    # the EDGE frame as the broadcast build side (it looked small
    # post-localCheckpoint), which at sf10 turned into a multi-GB
    # broadcast and α(1→10) = 1.18. Semi-filtering forces the
    # reduced center set to be the build side and keeps only sym's
    # columns — the filter we actually meant.
    adj = sym.join(
        centers, sym.src == centers.node, "left_semi"
    ).select(F.col("src").alias("center"), F.col("dst").alias("leaf"))
    # Round-14 (the graph_jaccard_links recipe): wedge pairs are
    # generated ROW-LOCALLY from each center's sorted adjacency
    # array — one shuffle to build the lists where the previous
    # adjacency self-join shuffled the capped adjacency twice and
    # then shuffled two-column wedge rows a third time. Leaves are
    # ascending, so (a < c) falls out of the array order, and the
    # wedge shuffles as ONE packed BIGINT (a·2³² + c,
    # overflow-guarded). Same wedge multiset, same rollup
    # (interleaved A/B sf0.1: best 5.5 -> 5.3 s, median
    # 9.6 -> 8.7 s).
    nbs = adj.groupBy("center").agg(
        F.sort_array(F.collect_list("leaf")).alias("nbs")
    )
    # Round-15: id-domain guard folded into the packed expression
    # (see _PACKED_PAIRS_GUARDED — the old assert_true `_guard`
    # column was pruned to dead code and checked the wrong bound).
    pairs = (
        nbs.select(
            F.explode(
                F.expr(_PACKED_PAIRS_GUARDED.format(a="nbs"))
            ).alias("ac"),
        )
        .groupBy("ac")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    return pairs.agg(
        F.sum("w").cast("bigint").alias("n_wedges"),
        F.count(F.lit(1)).cast("bigint").alias("n_endpoint_pairs"),
        F.sum(F.expr("(w * (w - 1)) div 2"))
        .cast("bigint")
        .alias("n_squares"),
    )


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity and mean local clustering coefficient —
    the cohesion numbers (how clique-like is the co-purchase
    neighborhood) behind community detection and recommender
    sanity checks.

    transitivity = 3·triangles / wedges with wedges = Σ C(deg v, 2);
    local cc(v) = t_v / C(deg v, 2) over nodes with deg ≥ 2, where
    t_v comes from exploding each oriented triangle's three nodes —
    the per-node attribution costs one extra explode + groupBy over
    the (sparse) triangle set, nothing corpus-quadratic. The mean
    lcc is summed as DECIMAL(38,18) for order-independent
    cross-engine equality.
    """
    tri = _triangle_triples(spark, sf_dir)
    tcounts = (
        tri.select(
            F.explode(F.array("u", "cu", "cv")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    deg = _degrees(_edges_ckpt(spark, sf_dir))
    pern = (
        deg.where(F.col("deg") >= 2)
        .join(tcounts, "node", "left")
        .select(
            "deg", F.coalesce(F.col("t"), F.lit(0)).alias("t")
        )
    )
    lcc = F.col("t").cast("double") / (
        F.col("deg").cast("double") * (F.col("deg") - 1) / 2
    )
    wedges_v = F.expr("(deg * (deg - 1)) div 2")  # exact integer
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return pern.agg(
        F.expr("sum(t) div 3").cast("bigint").alias("n_triangles"),
        F.sum(wedges_v).cast("bigint").alias("n_wedges"),
        f6(
            F.sum("t").cast("double")
            / F.sum(wedges_v).cast("double")
        ).alias("transitivity"),
        f6(
            F.sum(lcc.cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_lcc"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by 3-iteration PageRank on the co-purchase
    graph (uniform init, d=0.85, symmetric edges, no dangling nodes
    since every graph node has deg >= 1).

    The iteration is the standard join-contributions/aggregate
    pattern; determinism comes from summing per-edge contributions
    as DECIMAL(38,18) (exact) while keeping the row-local ops
    (pr/deg, damping fold) in double — both engines execute the
    same IEEE ops on the same values.
    """
    edges = _edges_ckpt(spark, sf_dir)
    # symmetric directed view: contributions flow both ways.
    # localCheckpoint (not persist) so the per-iteration reuse reads
    # an AQE-coalesced materialization instead of recomputing the
    # pair join — and instead of pinning pre-AQE shuffle layouts.
    # (The persisted-hash-layout trick that helps graph_components'
    # many-round loop was A/B-tested here and did NOT reproduce a
    # win for this FIXED-3-round loop — the materialization pass
    # costs about what three edge shuffles cost.)
    sym = (
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint()
    )
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint()
    )
    # scalar node count (constant-size driver value); clamp to 1 on
    # an empty graph — the constants below then feed zero rows, so
    # the clamp only avoids a plan-build-time division by zero
    n = deg.count() or 1
    pr = deg.select("node", "deg", (F.lit(1.0) / F.lit(float(n))).alias("pr"))
    # Round-14: carry the DESTINATION's degree on the edge frame
    # once, so every iteration's rank update closes inside the
    # contribution aggregate (max(ddeg) — constant per node) and the
    # per-iteration deg⋈contrib join disappears. Built once outside
    # the loop; the 8-byte column partial-aggregates away map-side.
    # Measured interleaved at sf0.1: best 9.3 -> 6.8 s, median
    # 13.1 -> 8.4 s under co-tenant load.
    sym = sym.join(
        deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddeg")),
        "dst",
    ).localCheckpoint()
    for _ in range(PR_ITERS):
        # every node of this symmetric graph has deg >= 1, so the
        # contribution aggregate already covers ALL nodes — no
        # left-join back against the node list is needed, and pr is
        # consumed exactly once per iteration (linear lineage).
        pr = (
            sym.join(pr, sym.src == pr.node)
            .select(
                F.col("dst").alias("node"),
                F.col("ddeg"),
                (F.col("pr") / F.col("deg").cast("double"))
                .cast("decimal(38,18)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"), F.max("ddeg").alias("deg"))
            .select(
                "node",
                "deg",
                (
                    F.lit((1.0 - PR_DAMPING) / n)
                    + F.lit(PR_DAMPING) * F.col("s").cast("double")
                ).alias("pr"),
            )
        )
    return (
        pr.select(F.col("node").alias("p_partkey"), "deg", "pr")
        .orderBy(F.desc("pr"), "p_partkey")
        .limit(20)
    )


#: Converged-PageRank controls: iterate until the L1 delta between
#: successive vectors drops below PR_EPS (or the safety cap). The
#: cap is a backstop, not the expected exit — delta contracts
#: geometrically at rate ~PR_DAMPING, so eps=1e-6 lands around
#: iteration 35-60 on these graphs.
PR_EPS = 1e-6
PR_MAX_ITERS = 60


def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-form PageRank: DIRECTED edges, dangling-mass
    redistribution, iterate-to-epsilon — the algorithm as it runs on
    real doc-link / citation graphs, where edges point one way and
    sink pages absorb rank unless their mass is re-spread.

    The co-purchase pairs are taken as directed low-key → high-key
    edges, so nodes that only ever appear as the higher endpoint
    have no out-edges: genuine dangling nodes (unlike the symmetric
    3-iteration twin ``graph_pagerank``, which has none by
    construction). Update rule per iteration:

        pr'(v) = (1-d)/n + d * ( Σ_{u→v} pr(u)/outdeg(u) + D/n )

    where D = Σ pr(u) over dangling u — the standard formulation
    that keeps Σ pr = 1 every iteration.

    Scale shape: the dangling mass D is a one-row aggregate kept
    IN-PLAN via scalar cross-broadcast (never collected); per-edge
    contributions sum as DECIMAL(38,18) for order-independent exact
    addition; each iteration ``localCheckpoint``s to truncate
    lineage (the dedup_cc_keepset recipe). The only driver-side
    value per round is the constant-size L1 convergence scalar —
    the loop-exit decision Spark cannot make in-plan.

    Oracle (round 6, upgraded from rows-only): the data-dependent
    iteration count IS expressible in one DuckDB statement — unroll
    PRC_ORACLE_UNROLL iterations as MATERIALIZED CTEs (the
    graph_components recipe), compute each round's L1 delta as an
    exact DECIMAL(38,18) sum (mirroring the Spark loop's scalar, so
    both engines agree on the stopping round bit-for-bit), and
    select the first round whose delta < PR_EPS. Convergence past
    the unroll depth would surface as a visible hash FAIL, never
    silently (measured: 26–28 rounds at sf0.001–0.1 vs 36 unrolled).
    Independent exact-value verification also lives in
    tests/test_graph.py against a NumPy power iteration.
    """
    edges = _edges_ckpt(spark, sf_dir)
    nodes = _degrees(edges).select("node")
    outdeg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("outdeg"))
    )
    nd = (
        nodes.join(outdeg, "node", "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
        .localCheckpoint()
    )
    n = nd.count() or 1
    base = (1.0 - PR_DAMPING) / n
    pr = nd.select(
        "node", "outdeg", (F.lit(1.0) / F.lit(float(n))).alias("pr")
    ).localCheckpoint()
    n_iters = 0
    # Round-14: the dangling mass is a DRIVER SCALAR, not an in-plan
    # broadcast — each round's convergence collect (which must happen
    # anyway) now also returns NEXT round's dangling mass, so the
    # per-round scalar-subquery job + BroadcastExchange disappear.
    # float(Decimal) is the correctly-rounded nearest double, exactly
    # Spark's decimal->double cast, so the update arithmetic is
    # bit-identical to the broadcast form the oracle mirrors.
    dmass_dec = (
        pr.where(F.col("outdeg") == 0)
        .agg(F.sum(F.col("pr").cast("decimal(38,18)")).alias("d"))
        .collect()[0][0]
    )
    for _ in range(PR_MAX_ITERS):
        dmass = float(dmass_dec) if dmass_dec is not None else 0.0
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("outdeg").cast("double"))
                .cast("decimal(38,18)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        # Round-14: the update joins contrib onto the CURRENT rank
        # frame (same node set as nd — it was built from it) instead
        # of nd, so the new frame carries pr_old for free and the
        # convergence scalar below aggregates ONE checkpointed frame
        # instead of joining two — one fewer shuffle per round on a
        # row whose cost is ~27 rounds × per-round fixed overhead
        # (values and iteration count are untouched — pr_old is the
        # same column the old delta join read). Two rejected
        # alternatives, both measured (see PLANS.md): epsilon/N
        # delta-FILTERED propagation changes the computed doubles
        # (breaks the exact-oracle contract), and batching K rounds
        # per lineage cut lost ~2× to driver-side plan analysis plus
        # one mega-job the AQE stage scheduler runs serially anyway.
        new_pr = (
            pr.withColumnRenamed("pr", "pr_old")
            .join(contrib, "node", "left")
            .select(
                "node",
                "outdeg",
                (
                    F.lit(base)
                    + F.lit(PR_DAMPING)
                    * (
                        F.coalesce(
                            F.col("s"), F.lit(0).cast("decimal(38,18)")
                        ).cast("double")
                        + F.lit(dmass) / F.lit(float(n))
                    )
                ).alias("pr"),
                "pr_old",
            )
            .localCheckpoint()
        )
        n_iters += 1
        # Constant-size convergence scalars — the loop-exit decision
        # plus NEXT round's dangling mass, one aggregate job. Both
        # summed in DECIMAL(38,18): exact and order-independent, so
        # Spark's partition order cannot flip an iteration count the
        # unrolled SQL oracle reproduces deterministically.
        delta_dec, dmass_dec = (
            new_pr.agg(
                F.sum(
                    F.abs(F.col("pr") - F.col("pr_old")).cast(
                        "decimal(38,18)"
                    )
                ).alias("d"),
                F.sum(
                    F.when(F.col("outdeg") == 0, F.col("pr")).cast(
                        "decimal(38,18)"
                    )
                ).alias("dm"),
            )
            .collect()[0]
        )
        pr = new_pr.drop("pr_old")
        if delta_dec is not None and float(delta_dec) < PR_EPS:
            break
    return (
        pr.select(
            F.col("node").alias("p_partkey"),
            "outdeg",
            (F.floor(F.col("pr") * 1e9) / 1e9).alias("pr"),
            F.lit(n_iters).cast("int").alias("n_iters"),
        )
        .orderBy(F.desc("pr"), "p_partkey")
        .limit(20)
    )


#: Round cap of :func:`connected_components`. Rounds are bounded by
#: the component diameter, which is small for co-purchase and near-dup
#: graphs; the cap only guards a pathological path graph.
CC_MAX_ROUNDS = 128


def connected_components(sym: DataFrame, what: str) -> DataFrame:
    """Connected-component labels ``(node, label)`` of a SYMMETRIC,
    already-materialized edge frame ``sym(src, dst)``: each node's
    label is the smallest node id in its component.

    Min-label propagation run to the exact fixed point: labels start
    as the node ids of the distinct ``src``; each round every node
    takes the min of its own label and its neighbors' labels (one join
    + one partial-aggregatable MIN), ``localCheckpoint`` truncates the
    lineage, and a constant-size changed-row count is the only driver
    value. The loop stops at the first round that changes no label,
    after at most the largest component diameter + 1 rounds.

    (Round-14 A/B on graph_components: fusing the round into ONE
    grouped MIN — own label riding the neighbor-message union as a
    tagged row — measured SLOWER interleaved at sf0.1 (best 7.3 ->
    12.1 s): the labels-nb_min join is a broadcast here while the
    union pushed N extra rows through the big exchange. A second A/B
    — TWO hops per checkpoint + label-sum check — also measured
    slower (best 9.3 -> 13.2 s over 6 reps): the start-label
    comparison join per round cost more than the saved checkpoint +
    count jobs. Single-hop rounds kept. Log-depth large-star /
    small-star rounds drop in without changing the contract.)

    Raises ``RuntimeError`` naming ``what`` if ``CC_MAX_ROUNDS``
    rounds do not converge — never returns partial components.
    """
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ROUNDS):
        nb_min = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nb_label"))
        )
        new_label = F.least("label", F.coalesce("nb_label", "label"))
        new_labels = (
            labels.join(nb_min, "node", "left")
            .select(
                "node",
                new_label.alias("label"),
                (F.col("label") != new_label).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("chg")).count()  # scalar
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"{what}: connected components did not converge in "
        f"{CC_MAX_ROUNDS} rounds — component diameter exceeds the cap"
    )


def _sym_edges(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> DataFrame:
    """Symmetric ``(src, dst)`` layout of the co-purchase edges for the
    iterative-join loops (components, LPA): on big graphs a persisted
    hash layout on the per-round join key (see graph_pagerank's sym
    note: persist preserves the layout, localCheckpoint doesn't), so
    each round shuffles only the label frame (N rows), not 2|E| edges
    — measured at sf1: 47 → 25 s best-of-2 on graph_components; on
    small graphs a checkpoint, since shuffles are cheap there. Callers
    release it with ``unpersist()``, a no-op on the checkpoint."""
    n_part = _iter_partitions(spark, sf_dir)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if not n_part:
        return sym.localCheckpoint()
    sym = sym.repartition(n_part, "src").persist(ITER_LAYOUT_STORAGE)
    sym.count()  # materialize the partitioned layout once
    return sym


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size histogram of the co-purchase graph:
    how many components of each size (nodes = parts that appear in
    at least one co-purchase edge).

    Spark shape: :func:`connected_components` over the symmetric edge
    layout (:func:`_sym_edges`) — one join + one partial-aggregatable
    min per round, rounds bounded by the graph diameter.

    The oracle unrolls CC_ORACLE_ROUNDS min-relaxation rounds as a
    MATERIALIZED CTE chain — O(E) work per round, so it stays
    tractable on a giant component (a RECURSIVE reachability
    closure is near-quadratic there: measured >25 min at sf0.1
    before being replaced). A fixed unroll equals the convergence
    loop whenever diameter <= CC_ORACLE_ROUNDS; a violation would
    surface as a visible hash FAIL.
    """
    sym = _sym_edges(spark, sf_dir, _edges_ckpt(spark, sf_dir))
    try:
        labels = connected_components(sym, "graph_components")
    finally:
        # The labels are checkpoint-backed, so a persisted edge layout
        # is dead weight once the loop ends — release it, on a cap
        # failure too.
        sym.unpersist()
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .orderBy("component_size")
    )


#: Synchronous label-propagation rounds. Fixed (not converged-to):
#: LPA on a dense co-purchase graph oscillates, so the standard
#: practice is a small fixed round count; 3 is enough for labels to
#: coalesce into communities while staying exactly mirrorable by an
#: unrolled SQL oracle.
LPA_ITERS = 3


def _lpa_labels(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Final (node, label) frame after ``LPA_ITERS`` synchronous
    label-propagation rounds — shared by the community query and the
    modularity evaluation. Per round ONE join (edges × labels) + ONE
    grouped count + ONE per-node window top-1 — all keyed shuffles,
    no pair blow-up; ``localCheckpoint`` truncates lineage per round
    and the symmetric edge frame is :func:`_sym_edges`' layout, so on
    big graphs only the label frame (N rows) re-shuffles each round.
    The deterministic (count DESC, label ASC) tie-break makes the
    fixpoint bit-identical to the oracle's unrolled rounds.

    ``edges`` (round-14): callers that also need the edge frame for
    their own rollups (conductance, modularity) pass their already-
    checkpointed frame so the co-purchase build doesn't run twice
    per query."""
    if edges is None:
        edges = _edges_ckpt(spark, sf_dir)
    sym = _sym_edges(spark, sf_dir, edges)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for it in range(1, LPA_ITERS + 1):
        # Round-14: the per-node top-1 is an arg-max by
        # (c DESC, label ASC) computed as ONE aggregate —
        # max(struct(c, -label)) picks the highest count and, among
        # ties, the largest -label = smallest label (node ids are
        # positive, so the negation is order-exact). Identical rows
        # to the previous row_number()-over-window formulation, but
        # the shuffle partial-aggregates map-side and the
        # sort-per-node WindowExec disappears (measured interleaved
        # at sf0.1: median 44.1 -> 28.7 s under co-tenant load,
        # best 38.3 -> 8.9 s).
        labels = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        # Round-15 (VERDICT r14 task 7, guide §5): checkpoint only
        # the FINAL round. LPA runs a fixed LPA_ITERS with no
        # per-round convergence read, so the intermediate
        # materialization + driver sync per round bought nothing —
        # the rounds chain into one job (same shuffles, 2 fewer
        # checkpoint jobs). Interleaved A/B at sf0.1 (4 reps,
        # results asserted identical): best 13.5 s (per-round) →
        # 7.0 s (final-only).
        if it == LPA_ITERS:
            labels = labels.localCheckpoint()
    # labels is checkpoint-backed after the final round — release a
    # persisted edge layout at exit.
    sym.unpersist()
    return labels


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation: every
    node starts as its own label; each round it adopts its
    neighbors' most frequent label (ties → smallest label). After
    ``LPA_ITERS`` rounds, emit each surviving community and its size.
    (Plan shape: see :func:`_lpa_labels`.)
    """
    return (
        _lpa_labels(spark, sf_dir)
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("label"))
    )


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the standard "are
    these communities real?" score: Q = Σ_c (e_c/m − (d_c/2m)²)
    with m undirected edges, e_c intra-community edges, d_c the
    community's degree sum. Emits one row per community (size,
    internal edges, degree sum, its Q contribution) so the rollup is
    auditable, ordered by contribution.

    Scale shape: the partition comes from the shared LPA loop; e_c
    is one edges⋈labels⋈labels equi-join (each side keyed on a node
    column) + rollup; d_c one degree⋈labels rollup; m, 2m are
    scalars. Per-community terms pin to DECIMAL(38,18) before any
    float emits, with the mirrored floor(x·1e6)/1e6.
    """
    # Round-14: build + checkpoint the edge frame ONCE and share it
    # with the LPA loop — previously the co-purchase build ran twice
    # per query (once inside _lpa_labels, once here).
    edges = _edges_ckpt(spark, sf_dir)
    labels = _lpa_labels(spark, sf_dir, edges=edges)
    m = edges.count()  # scalar: undirected edge count
    la = labels.select(
        F.col("node").alias("src"), F.col("label").alias("label_a")
    )
    lb = labels.select(
        F.col("node").alias("dst"), F.col("label").alias("label_b")
    )
    intra = (
        edges.join(la, "src")
        .join(lb, "dst")
        .where(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal_edges"))
    )
    deg = _degrees(edges)
    dsum = (
        deg.join(labels, "node")
        .groupBy("label")
        .agg(
            F.sum("deg").cast("bigint").alias("degree_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )
    md = F.lit(float(m))
    contrib = (
        F.coalesce(F.col("internal_edges"), F.lit(0)).cast("double") / md
        - (F.col("degree_sum").cast("double") / (2.0 * md))
        * (F.col("degree_sum").cast("double") / (2.0 * md))
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        dsum.join(intra, "label", "left")
        .select(
            "label",
            "n_members",
            F.coalesce("internal_edges", F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            "degree_sum",
            f6(contrib).alias("q_contrib"),
        )
        .orderBy(F.desc("q_contrib"), F.asc("label"))
    )


def graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of each LPA community — the cut-quality twin of
    :func:`graph_modularity` (Kannan/Vempala/Vetta's cluster-quality
    measure): φ(C) = cut(C) / min(vol(C), 2m − vol(C)). Low φ =
    few escaping edges = a real community; reading φ next to the
    modularity contribution is how a practitioner separates "big
    community" from "well-separated community".

    Scale shape: NO new corpus-scale work beyond modularity's — the
    cut is derivable from frames already needed there
    (cut = vol − 2·internal since vol counts both endpoints of
    internal edges, one endpoint of cut edges), so the plan is the
    shared LPA loop + one edges⋈labels⋈labels rollup + one
    degree⋈labels rollup; m is a scalar.
    """
    # Round-14: build + checkpoint the edge frame ONCE and share it
    # with the LPA loop — previously the co-purchase build ran twice
    # per query (once inside _lpa_labels, once here).
    edges = _edges_ckpt(spark, sf_dir)
    labels = _lpa_labels(spark, sf_dir, edges=edges)
    m = edges.count()  # scalar: undirected edge count
    la = labels.select(
        F.col("node").alias("src"), F.col("label").alias("label_a")
    )
    lb = labels.select(
        F.col("node").alias("dst"), F.col("label").alias("label_b")
    )
    intra = (
        edges.join(la, "src")
        .join(lb, "dst")
        .where(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal_edges"))
    )
    deg = _degrees(edges)
    dsum = (
        deg.join(labels, "node")
        .groupBy("label")
        .agg(
            F.sum("deg").cast("bigint").alias("volume"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )
    cut = F.col("volume") - F.lit(2) * F.coalesce(
        F.col("internal_edges"), F.lit(0)
    )
    denom = F.least(F.col("volume"), F.lit(2 * m) - F.col("volume"))
    cond = F.when(
        denom > 0,
        F.floor(cut.cast("double") / denom * 1e6) / 1e6,
    )
    return (
        dsum.join(intra, "label", "left")
        .select(
            "label",
            "n_members",
            cut.cast("bigint").alias("cut_edges"),
            "volume",
            cond.alias("conductance"),
        )
        .orderBy(F.col("conductance").asc_nulls_last(), F.asc("label"))
    )


def _lpa_iter_sql(k: int) -> str:
    """One unrolled synchronous LPA round (the Spark loop body
    re-expressed): label <- arg max over neighbor labels by
    (count DESC, label ASC)."""
    return f"""
        p{k} AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT s.dst AS node, l.label,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.dst
                           ORDER BY COUNT(*) DESC, l.label ASC) AS rn
                FROM sym s JOIN p{k - 1} l ON s.src = l.node
                GROUP BY s.dst, l.label
            ) WHERE rn = 1
        )
    """


#: Wedge-center degree cap for link prediction: a node above this
#: degree contributes no wedges. Hubs are exactly the nodes whose
#: common-neighbor evidence is least informative (they neighbor
#: everything) AND whose wedge fan-out is deg² — the standard cap
#: drops noise and the quadratic blow-up together. Applied
#: identically in the oracle, so the capped score is still compared
#: bit-for-bit.
JACCARD_DEG_CAP = 128


def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by capped common-neighbor Jaccard: for part
    pairs NOT currently co-purchased but sharing neighbors, score =
    |N(a)∩N(b)| / |N(a)∪N(b)| and return the top-20 predicted edges
    — the "customers also bought" candidate generator.

    Scale shape: wedges fan out only from centers with deg ≤
    JACCARD_DEG_CAP (Σ deg² bounded per center by the cap² — hub
    nodes never emit wedges), the intersection is a count over the
    wedge rollup, the union comes from the FULL degree table via the
    inclusion-exclusion identity, and the known-edge exclusion is an
    anti-join on the canonical (a < b) pair. The score division is
    one mirrored floor(x·1e6)/1e6 per surviving pair.
    """
    edges = _edges_ckpt(spark, sf_dir)
    deg = _degrees(edges).localCheckpoint()
    adj = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nb")
    ).unionAll(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("nb"))
    )
    centers = deg.where(F.col("deg") <= JACCARD_DEG_CAP).select("node")
    capped = adj.join(centers, "node", "leftsemi")
    # Round-5 plan rework (the sf1 watch row): wedge pairs generated
    # ROW-LOCALLY from each center's sorted adjacency array — one
    # shuffle to build the lists, where the previous capped-adjacency
    # self-join shuffled the adjacency twice and then shuffled
    # two-column wedge rows a third time. The wedge shuffle carries a
    # single packed BIGINT key (a·2³² + b), halving shuffle width.
    # nbs is ascending, so pairs are already canonical (a < b).
    # (Round-15 A/B kept the plain-long explode over a struct
    # (ab, degsum) variant: primitive arrays flatten without
    # per-element allocations — 2.5 s vs 7.7 s for the explode — and
    # the post-rollup degree joins broadcast, interleaved best
    # 2.1 s vs 5.8 s for the whole pipeline.)
    nbs = capped.groupBy("node").agg(
        F.sort_array(F.collect_list("nb")).alias("nbs")
    )
    # Round-15 (guide §2.2/§2.5, the measured 13x): the wedge rollup
    # has ~0.8 distinct keys per row, so the map-side partial
    # aggregate is pure overhead (74M hash probes for no reduction)
    # and AQE's byte-targeted coalescing hands each reduce task a
    # hash map sized by DISTINCT KEYS, not bytes (measured 88-136 s
    # vs 7-10 s at sf0.1 for the count alone). An explicit hash
    # repartition on the key skips the partial aggregate (the
    # distribution is already satisfied → one complete
    # HashAggregate) and pins reduce parallelism to a SCALE-ADAPTIVE
    # count derived from the exact wedge cardinality Σ C(deg, 2)
    # (one tiny aggregate over the checkpointed degree frame — no
    # constant tuned to either local mode or a cluster).
    par = spark.sparkContext.defaultParallelism
    wedge_rows = (
        deg.where(F.col("deg") <= JACCARD_DEG_CAP)
        .agg(F.sum(F.expr("deg * (deg - 1) div 2")).alias("w"))
        .collect()[0]["w"]
        or 0
    )
    n_parts = max(par, min(64 * par, int(wedge_rows) // 300_000 + 1))
    # Round-15: id-domain guard folded into the packed expression —
    # reusing this operator on a graph with ids outside [0, 2^31)
    # fails loudly instead of silently corrupting (a, b) pairs (the
    # old assert_true `_guard` column was pruned to dead code).
    wedges = nbs.select(
        F.explode(
            F.expr(_PACKED_PAIRS_GUARDED.format(a="nbs"))
        ).alias("ab"),
    ).select("ab")
    common = (
        wedges.repartition(n_parts, "ab")
        .groupBy("ab")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .select(
            F.expr("ab div 4294967296L").alias("a"),
            (F.col("ab") % F.lit(4294967296).cast("long")).alias("b"),
            "n_common",
        )
    )
    nonedge = common.join(
        edges,
        (common.a == edges.src) & (common.b == edges.dst),
        "leftanti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    scored = (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "n_common",
            (F.col("dega") + F.col("degb") - F.col("n_common")).alias(
                "n_union"
            ),
        )
    )
    return (
        scored.select(
            "a",
            "b",
            "n_common",
            "n_union",
            (
                F.floor(F.col("n_common") * 1e6 / F.col("n_union")) / 1e6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "a", "b")
        .limit(20)
    )


#: Minimum distinct co-purchase orders for a "repeat" edge — the
#: Adamic–Adar graph keeps only pairs bought together at least
#: twice, which both strips one-off noise (the standard practice for
#: co-purchase recommenders) and keeps Σ deg² tiny at any SF.
AA_MIN_COOCCUR = 2


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the REPEAT co-purchase graph
    (edges = part pairs sharing ≥ 2 distinct orders): for non-edge
    pairs (a, b) sharing neighbors, ``AA(a,b) = Σ_w 1/ln(deg(w))``
    over common neighbors w — the classic hub-discounted common-
    neighbor score (Adamic & Adar 2003), returning the top-20
    predicted links. Complements graph_jaccard_links: Jaccard
    normalizes by union size, AA discounts promiscuous centers.

    Scale shape: the ≥2-co-occurrence filter makes the graph sparse
    by construction (repeat pairs are rare under any realistic
    basket distribution), so wedges fan out from full adjacency
    lists with no cap; pairs are generated ROW-LOCALLY from each
    center's sorted adjacency array and shuffle as one packed
    BIGINT (a·2³² + b, guarded). Each wedge carries the center's
    1/ln(deg) weight pinned to DECIMAL(38,6) so the per-pair fold
    is exact; known edges leave via one anti-join.
    """
    # Same row-local pair generation as copurchase_edges (round-14):
    # each order contributes each distinct pair once, so the per-pair
    # count IS the distinct-order co-occurrence count.
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(F.expr(_PAIRS_FROM_SORTED.format(a="ps"))).alias("e")
        )
        .groupBy(
            F.col("e.src").alias("src"), F.col("e.dst").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .where(F.col("n_cooccur") >= AA_MIN_COOCCUR)
        .select("src", "dst")
        .localCheckpoint()
    )
    deg = _degrees(edges)
    adj = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nb")
    ).unionAll(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("nb"))
    )
    nbs = adj.join(deg, "node").groupBy("node", "deg").agg(
        F.sort_array(F.collect_list("nb")).alias("nbs")
    )
    # Round-15: id-domain guard folded into the packed expression
    # (see _PACKED_PAIRS_GUARDED).
    wedges = nbs.select(
        # deg=1 centers emit no wedges (explode of empty array), but
        # the term must still be finite there: 1/ln(1) is +inf and an
        # ANSI decimal cast of inf would fail the task.
        F.when(
            F.col("deg") >= 2,
            (F.lit(1.0) / F.log(F.col("deg").cast("double"))).cast(
                "decimal(38,6)"
            ),
        )
        .otherwise(F.lit(None).cast("decimal(38,6)"))
        .alias("term"),
        F.explode(
            F.expr(_PACKED_PAIRS_GUARDED.format(a="nbs"))
        ).alias("ab"),
    ).select("ab", "term")
    scored = (
        wedges.groupBy("ab")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("term").alias("aa_sum"),
        )
        .select(
            F.expr("ab div 4294967296L").alias("a"),
            (F.col("ab") % F.lit(4294967296).cast("long")).alias("b"),
            "n_common",
            "aa_sum",
        )
    )
    nonedge = scored.join(
        edges,
        (scored.a == edges.src) & (scored.b == edges.dst),
        "leftanti",
    )
    return (
        nonedge.select(
            "a",
            "b",
            "n_common",
            (F.floor(F.col("aa_sum").cast("double") * 1e6) / 1e6).alias(
                "aa_score"
            ),
        )
        .orderBy(F.desc("aa_score"), "a", "b")
        .limit(20)
    )


#: HITS power iterations (fixed for oracle parity) and per-side
#: leaderboard size.
HITS_ITERS = 2
HITS_TOP = 10


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the bipartite
    supplier→customer fulfillment graph (edge s→c when supplier s
    shipped any lineitem of an order of customer c): two unnormalized
    power iterations — h ← Σ a over out-neighbors, a ← Σ h over
    in-neighbors — then one final max-normalization per side, and the
    top-10 of each side. Hubs = suppliers whose customer book is
    itself well-supplied; authorities = customers contested by strong
    suppliers.

    Cross-engine determinism: starting from a(c)=1, every iterate is
    an exact DECIMAL(38,0) integer sum (unnormalized HITS stays in
    ℤ — the only float is the final mirrored division by the side
    max), so no double fold ever happens engine-side.

    Scale shape: per iteration one edges⋈scores equi-join + one
    partial-aggregatable rollup (the PageRank shape); edges are
    localCheckpointed once and reused; the side max is an in-plan
    scalar broadcast, the leaderboard a bounded per-side window.
    """
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c")
        )
        .distinct()
        .localCheckpoint()
    )
    # a0 = 1 for every customer; two exact-integer iterations.
    hub = edges.groupBy("s").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("h")
    )
    for _ in range(HITS_ITERS - 1):
        auth = (
            edges.join(hub, "s")
            .groupBy("c")
            .agg(F.sum("h").cast("decimal(38,0)").alias("a"))
        )
        hub = (
            edges.join(auth, "c")
            .groupBy("s")
            .agg(F.sum("a").cast("decimal(38,0)").alias("h"))
        )
    auth = (
        edges.join(hub, "s")
        .groupBy("c")
        .agg(F.sum("h").cast("decimal(38,0)").alias("a"))
    )
    f6 = lambda col: F.floor(col * 1e6) / 1e6  # noqa: E731

    def top(df, side, node, score):
        # distributed top-10 (TakeOrderedAndProject), then the rank
        # window runs on the bounded 10-row frame only; the side max
        # is a 1-row scalar broadcast — no global window ever touches
        # the full node-grain frame.
        mx = df.agg(F.max(score).alias("mx"))
        head = (
            df.orderBy(F.desc(score), F.asc(node))
            .limit(HITS_TOP)
            .crossJoin(F.broadcast(mx))
        )
        w = Window.orderBy(F.desc(score), F.asc(node))
        return head.select(
            F.lit(side).alias("side"),
            F.col(node).alias("node"),
            F.row_number().over(w).alias("rank"),
            f6(
                F.col(score).cast("double") / F.col("mx").cast("double")
            ).alias("norm_score"),
        )

    return (
        top(hub, "hub", "s", "h")
        .unionAll(top(auth, "authority", "c", "a"))
        .orderBy("side", "rank")
    )


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over edges (Newman's r) — do
    hub parts co-purchase with hubs (r > 0, social-network-like) or
    with the long tail (r < 0, dependency-graph-like)? One number
    that shapes partitioning and sampling strategy for every other
    graph job.

    Computed from exact BIGINT sufficient sums over the symmetric
    edge list with degrees joined at both endpoints (each undirected
    edge contributes both orientations, the standard convention):
    pure partial-aggregatable sums, one mirrored IEEE expression for
    r — the same regression-as-aggregation shape as the customer
    spend OLS, at graph scale.
    """
    edges = _edges_ckpt(spark, sf_dir)
    deg = _degrees(edges)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    du = deg.select(F.col("node").alias("src"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("dst"), F.col("deg").alias("dv"))
    j = sym.join(du, "src").join(dv, "dst")
    sums = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("du").cast("bigint").alias("su"),
        F.sum("dv").cast("bigint").alias("sv"),
        F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("suv"),
        F.sum(F.col("du") * F.col("du")).cast("bigint").alias("suu"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("svv"),
    )
    m = F.col("m2").cast("double")
    su, sv = F.col("su").cast("double"), F.col("sv").cast("double")
    suv = F.col("suv").cast("double")
    suu, svv = F.col("suu").cast("double"), F.col("svv").cast("double")
    num = suv - su * sv / m
    den = F.sqrt((suu - su * su / m) * (svv - sv * sv / m))
    return sums.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        (F.floor(F.try_divide(num, den) * 1e6) / 1e6).alias(
            "assortativity"
        ),
    )


#: k-core order: peel nodes with degree < KCORE_K until stable.
KCORE_K = 3
#: k ladder for the full core decomposition curve.
CORE_DECOMP_KS = (2, 3, 4, 5)


def graph_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core-decomposition CURVE: surviving nodes/edges of the k-core
    for k = 2..5 — the density ladder that locates where the graph's
    cohesive backbone actually sits (`graph_kcore` reports one fixed
    k; this is the sweep that justifies choosing it).

    Scale shape: k-cores are NESTED, so each level's peel starts
    from the PREVIOUS core's edge set (never from scratch) — total
    work is one peel cascade, the same per-round
    degree-rollup + two-semi-join shape as ``graph_kcore``, with
    only constant-size convergence scalars on the driver.
    """
    edges = _edges_ckpt(spark, sf_dir)
    rows = []
    for kval in CORE_DECOMP_KS:
        n_cur = edges.count()
        # Peel within the ORACLE's unroll budget and fail loudly if a
        # level hasn't converged by then: silently peeling further
        # would diverge from the fixed-round SQL twin (round-8
        # ADVICE). Real peel depths here are single digits.
        for _ in range(KCORE_ORACLE_ROUNDS):
            deg = _degrees(edges)
            keep = deg.where(F.col("deg") >= kval).select("node")
            edges = (
                edges.join(keep, edges.src == keep.node, "leftsemi")
                .join(keep, F.col("dst") == keep.node, "leftsemi")
                .localCheckpoint()
            )
            n_next = edges.count()
            if n_next == n_cur:
                break
            n_cur = n_next
        else:
            raise RuntimeError(
                f"k={kval} core peel did not converge within"
                f" KCORE_ORACLE_ROUNDS={KCORE_ORACLE_ROUNDS};"
                " raise the oracle round count to match"
            )
        n_nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct()
            .count()
        )
        rows.append((kval, int(n_nodes), int(n_cur)))
    return spark.createDataFrame(
        rows, "k int, n_nodes bigint, n_edges bigint"
    ).orderBy("k")



def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the 3-core of the co-purchase graph —
    the densest-backbone extraction (community seeding, spam-node
    pruning on doc-link graphs). Iterative peeling: drop nodes with
    core-degree < k, recompute degrees on the induced subgraph,
    repeat until the edge set is stable.

    Scale shape: each round is one partial-aggregatable degree
    count plus two left-semi equi-joins to induce the subgraph —
    never a pairs blow-up; ``localCheckpoint`` truncates lineage
    per round and the only driver value is the constant-size
    surviving-edge count (the convergence scalar). Rounds are
    bounded by the peeling depth, which is tiny on heavy-tailed
    graphs. The oracle unrolls KCORE_ORACLE_ROUNDS peels as a
    MATERIALIZED CTE chain — extra rounds past convergence are
    no-ops, so fixed unroll == converged loop whenever peeling
    finishes within the unroll depth.
    """
    edges = _edges_ckpt(spark, sf_dir)
    n_cur = edges.count()
    # Convergence must land within the oracle's fixed unroll depth —
    # peeling past it would silently diverge from the SQL twin.
    for _ in range(KCORE_ORACLE_ROUNDS):
        deg = _degrees(edges)
        keep = deg.where(F.col("deg") >= KCORE_K).select("node")
        edges = (
            edges.join(
                keep, edges.src == keep.node, "leftsemi"
            )
            .join(keep, F.col("dst") == keep.node, "leftsemi")
            .localCheckpoint()
        )
        n_next = edges.count()  # constant-size convergence scalar
        if n_next == n_cur:
            break
        n_cur = n_next
    else:
        raise RuntimeError(
            "3-core peel did not converge within"
            f" KCORE_ORACLE_ROUNDS={KCORE_ORACLE_ROUNDS};"
            " raise the oracle round count to match"
        )
    return (
        _degrees(edges)
        .groupBy("deg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("deg")
    )


#: Multi-source BFS: seed set size and fixed relaxation rounds
#: (fixed — not converged — so the SQL twin is an exact unroll).
BFS_N_SEEDS = 5
BFS_ROUNDS = 6


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS level histogram: hop distance from the
    BFS_N_SEEDS highest-degree parts (ties: node asc) after
    BFS_ROUNDS rounds of min-distance relaxation — the reachability
    / influence-radius kernel (also the E-R diameter probe shape).

    Scale shape: per round, one join from the current distance
    table along the symmetric edge list plus a partial-aggregatable
    MIN — the standard distributed Bellman-Ford relaxation with
    unit weights; ``localCheckpoint`` per round truncates lineage.
    Rounds are FIXED (like graph_pagerank), so Spark and the
    unrolled-CTE oracle compute identical tables with no
    convergence scalar at all. Nodes not reached within BFS_ROUNDS
    are excluded (they'd report +inf).
    """
    edges = _edges_ckpt(spark, sf_dir)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = _degrees(edges)
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("node"))
        .limit(BFS_N_SEEDS)
        .select("node")
    )
    dist = seeds.select("node", F.lit(0).alias("dist")).localCheckpoint()
    for _ in range(BFS_ROUNDS):
        cand = (
            sym.join(dist, sym.src == dist.node)
            .groupBy(F.col("dst").alias("node"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        dist = (
            dist.join(cand, "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(1 << 30)),
                    F.coalesce("nd", F.lit(1 << 30)),
                ).alias("dist"),
            )
            .localCheckpoint()
        )
    return (
        dist.groupBy(F.col("dist").alias("level"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("level")
    )


#: Harmonic-centrality sample: per-seed BFS radius and seed count
#: (fixed so the oracle unrolls exactly).
HARMONIC_SEEDS = 4
HARMONIC_ROUNDS = 3


def graph_harmonic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality of the HARMONIC_SEEDS
    highest-degree parts: ``H(s) = Σ_{{v≠s, d(s,v)≤R}} 1/d(s,v)``
    after R = 3 per-seed BFS rounds — the centrality that stays
    finite on disconnected graphs (Boldi & Vigna 2014) and, sampled
    from pivot nodes, is the standard scalable stand-in for exact
    closeness (which would need all-pairs distances).

    Scale shape: the distance frontier is keyed (seed, node) — state
    is bounded by seeds × reach, never nodes²; each round is one
    edges⋈frontier equi-join plus a partial-aggregatable MIN (the
    Bellman-Ford relaxation graph_bfs_levels uses, with the seed
    riding the key); 1/d terms are pinned to DECIMAL(38,6) before
    the per-seed fold.
    """
    edges = _edges_ckpt(spark, sf_dir)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = _degrees(edges)
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("node"))
        .limit(HARMONIC_SEEDS)
        .select(F.col("node").alias("seed"))
    )
    dist = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit(0).alias("dist")
    ).localCheckpoint()
    for _ in range(HARMONIC_ROUNDS):
        cand = (
            sym.join(dist, sym.src == dist.node)
            .groupBy("seed", F.col("dst").alias("node"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        dist = (
            dist.join(cand, ["seed", "node"], "full")
            .select(
                "seed",
                "node",
                F.least(
                    F.coalesce("dist", F.lit(1 << 30)),
                    F.coalesce("nd", F.lit(1 << 30)),
                ).alias("dist"),
            )
            .localCheckpoint()
        )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        dist.where(F.col("dist") > 0)
        .select(
            "seed",
            (F.lit(1.0) / F.col("dist").cast("double"))
            .cast("decimal(38,6)")
            .alias("term"),
        )
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum("term").alias("hsum"),
        )
        .select(
            "seed",
            "n_reached",
            f6(F.col("hsum").cast("double")).alias("harmonic"),
        )
        .orderBy("seed")
    )


#: Random-walk corpus parameters: number of walks (highest-degree
#: seeds) and steps per walk. Fixed so the oracle unrolls exactly.
WALKS_N = 20
WALK_LEN = 4


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the co-purchase graph — the
    DeepWalk/node2vec corpus generator that turns a graph into
    training sequences for an embedding model. Each of the WALKS_N
    highest-degree seeds walks WALK_LEN steps; the neighbor choice
    at each step is md5(walk, step, node) mod degree — a public
    hash, so task retries AND the SQL twin reproduce the identical
    walk (never `rand()`, which would break both).

    Scale shape: adjacency lists build in one groupBy
    (sort_array(collect_list) — bounded by max degree); each step
    is one equi-join of the walk frontier (WALKS_N rows) against
    the adjacency table — at 100 TB the frontier broadcasts and
    the walk costs WALK_LEN tiny joins, the standard distributed
    random-walk shape.
    """
    edges = _edges_ckpt(spark, sf_dir)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    adj = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .localCheckpoint()
    )
    deg = _degrees(edges)
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("node"))
        .limit(WALKS_N)
        .select(
            F.col("node").alias("walk_id"),
            F.col("node").alias("cur"),
            F.col("node").cast("string").alias("path"),
        )
    )
    state = seeds
    for s in range(1, WALK_LEN + 1):
        idx = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_",
                            F.col("walk_id"),
                            F.lit(s),
                            F.col("cur"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % F.size("nbrs")
        )
        state = (
            state.join(adj, state.cur == adj.node)
            .select(
                "walk_id",
                F.element_at("nbrs", (idx + 1).cast("int")).alias("cur"),
                F.concat_ws(
                    "-",
                    "path",
                    F.element_at("nbrs", (idx + 1).cast("int")).cast(
                        "string"
                    ),
                ).alias("path"),
            )
        )
    return state.select(
        "walk_id", F.col("cur").alias("final_node"), "path"
    ).orderBy("walk_id")


QUERIES = {
    "graph_adamic_adar": graph_adamic_adar,
    "graph_hits": graph_hits,
    "graph_harmonic_sample": graph_harmonic_sample,
    "graph_local_bridges": graph_local_bridges,
    "graph_rich_club": graph_rich_club,
    "graph_powerlaw_fit": graph_powerlaw_fit,
    "graph_attr_assortativity": graph_attr_assortativity,
    "graph_knn_degree_curve": graph_knn_degree_curve,
    "graph_random_walks": graph_random_walks,
    "graph_kcore": graph_kcore,
    "graph_core_decomposition": graph_core_decomposition,
    "graph_bfs_levels": graph_bfs_levels,
    "graph_degree_stats": graph_degree_stats,
    "graph_assortativity": graph_assortativity,
    "graph_triangle_count": graph_triangle_count,
    "graph_squares": graph_squares,
    "graph_modularity": graph_modularity,
    "graph_conductance": graph_conductance,
    "graph_clustering_coeff": graph_clustering_coeff,
    "graph_pagerank": graph_pagerank,
    "graph_pagerank_converged": graph_pagerank_converged,
    "graph_jaccard_links": graph_jaccard_links,
    "graph_components": graph_components,
    "graph_label_propagation": graph_label_propagation,
}


#: Oracle unroll depth for connected components: must be >= the
#: graph diameter (co-purchase graphs: one dense giant component,
#: diameter well under 10 at every tested SF; 32 leaves margin).
#: The Spark twin (connected_components) runs to the exact fixed point.
CC_ORACLE_ROUNDS = 32


def _cc_iter_sql(k: int) -> str:
    """One unrolled min-label relaxation round (the Spark loop body
    re-expressed): label <- least(label, min over in-neighbors)."""
    return f"""
        l{k} AS MATERIALIZED (
            SELECT n.node, least(n.label, COALESCE(nb.m, n.label)) AS label
            FROM l{k - 1} n LEFT JOIN (
                SELECT s.dst AS node, MIN(l.label) AS m
                FROM sym s JOIN l{k - 1} l ON s.src = l.node
                GROUP BY s.dst
            ) nb ON n.node = nb.node
        )
    """


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
        {out} AS (
            SELECT b.node, b.deg, b.n,
                   {1.0 - PR_DAMPING} / CAST(b.n AS DOUBLE)
                   + {PR_DAMPING} * CAST(COALESCE(s.s,
                         CAST(0 AS DECIMAL(38,18))) AS DOUBLE) AS pr
            FROM (SELECT node, deg, n FROM {prev}) b
            LEFT JOIN (
                SELECT e.dst AS node,
                       SUM(CAST(p.pr / CAST(p.deg AS DOUBLE)
                                AS DECIMAL(38,18))) AS s
                FROM sym e JOIN {prev} p ON e.src = p.node
                GROUP BY e.dst
            ) s ON b.node = s.node
        )
    """


#: Oracle unroll depth for converged PageRank: must exceed the
#: data-dependent stopping round (measured 26–28 at sf0.001–0.1;
#: delta shrinks ~geometrically at rate PR_DAMPING, so depth is
#: corpus-size-insensitive). Shallower-than-convergence unroll shows
#: as a visible hash FAIL (n_iters differs), never silently.
PRC_ORACLE_UNROLL = 36


def _prc_iter_sql(k: int) -> str:
    """One unrolled directed-PageRank round with dangling-mass
    redistribution + that round's exact L1 delta, mirroring the
    Spark loop's arithmetic op-for-op (same literals, same cast
    points, same add/multiply order) so every double is
    bit-identical and the DECIMAL(38,18) delta sums — being exact
    and order-independent — agree on the stopping round."""
    prev, out = f"cpr{k - 1}", f"cpr{k}"
    return f"""
        {out} AS MATERIALIZED (
            SELECT b.node, b.outdeg, b.n,
                   {1.0 - PR_DAMPING} / CAST(b.n AS DOUBLE)
                   + {PR_DAMPING} * (
                       CAST(COALESCE(s.s, CAST(0 AS DECIMAL(38,18)))
                            AS DOUBLE)
                       + CAST((SELECT COALESCE(
                                   SUM(CAST(pr AS DECIMAL(38,18))),
                                   CAST(0 AS DECIMAL(38,18)))
                               FROM {prev} WHERE outdeg = 0) AS DOUBLE)
                         / CAST(b.n AS DOUBLE)
                   ) AS pr
            FROM {prev} b
            LEFT JOIN (
                SELECT e.dst AS node,
                       SUM(CAST(p.pr / CAST(p.outdeg AS DOUBLE)
                                AS DECIMAL(38,18))) AS s
                FROM edges e JOIN {prev} p ON e.src = p.node
                GROUP BY e.dst
            ) s ON b.node = s.node
        ),
        cd{k} AS (
            SELECT {k} AS k,
                   COALESCE(SUM(CAST(ABS(a.pr - b.pr)
                                     AS DECIMAL(38,18))),
                            CAST(0 AS DECIMAL(38,18))) AS delta
            FROM {out} a JOIN {prev} b USING (node)
        )
    """


#: Oracle unroll depth for k-core peeling: must be >= the number of
#: peel rounds to convergence (heavy-tailed co-purchase graphs peel
#: in a handful of rounds; 16 leaves margin). Extra rounds past
#: convergence are no-ops, so deeper-than-needed unroll is safe.
KCORE_ORACLE_ROUNDS = 16


def _core_decomp_oracle() -> str:
    parts = ["c2e0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    prev_final = None
    sel_rows = []
    for kval in CORE_DECOMP_KS:
        pre = f"c{kval}e"
        if prev_final is not None:
            parts.append(
                f"{pre}0 AS MATERIALIZED (SELECT src, dst FROM {prev_final})"
            )
        for r in range(1, KCORE_ORACLE_ROUNDS + 1):
            parts.append(
                f"""{pre}d{r} AS (
            SELECT node, COUNT(*) AS c FROM (
                SELECT src AS node FROM {pre}{r - 1}
                UNION ALL SELECT dst FROM {pre}{r - 1}
            ) GROUP BY node
        ),
        {pre}{r} AS MATERIALIZED (
            SELECT e.src, e.dst
            FROM {pre}{r - 1} e
            JOIN {pre}d{r} a ON e.src = a.node AND a.c >= {kval}
            JOIN {pre}d{r} b ON e.dst = b.node AND b.c >= {kval}
        )"""
            )
        prev_final = f"{pre}{KCORE_ORACLE_ROUNDS}"
        sel_rows.append(
            f"""SELECT {kval} AS k,
                   (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM (
                        SELECT src AS node FROM {prev_final}
                        UNION ALL SELECT dst FROM {prev_final})) AS n_nodes,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM {prev_final})
                       AS n_edges"""
        )
    chain = ",\n        ".join(parts)
    rows_sql = "\n            UNION ALL ".join(sel_rows)
    return f"""
        WITH {_EDGES_SQL},
        {chain}
        SELECT k, n_nodes, n_edges FROM (
            {rows_sql}
        )
        ORDER BY k
    """


def _kcore_iter_sql(k: int) -> str:
    """One unrolled peel: keep edges whose BOTH endpoints still have
    degree >= KCORE_K in the current induced subgraph."""
    return f"""
        kd{k} AS (
            SELECT node, COUNT(*) AS c FROM (
                SELECT src AS node FROM ke{k - 1}
                UNION ALL SELECT dst FROM ke{k - 1}
            ) GROUP BY node
        ),
        ke{k} AS MATERIALIZED (
            SELECT e.src, e.dst
            FROM ke{k - 1} e
            JOIN kd{k} a ON e.src = a.node AND a.c >= {KCORE_K}
            JOIN kd{k} b ON e.dst = b.node AND b.c >= {KCORE_K}
        )
    """


def _bfs_iter_sql(k: int) -> str:
    """One unrolled unit-weight Bellman-Ford relaxation round."""
    return f"""
        bd{k} AS MATERIALIZED (
            SELECT COALESCE(p.node, c.node) AS node,
                   LEAST(COALESCE(p.dist, {1 << 30}),
                         COALESCE(c.nd, {1 << 30})) AS dist
            FROM bd{k - 1} p
            FULL JOIN (
                SELECT s.dst AS node, MIN(l.dist) + 1 AS nd
                FROM sym s JOIN bd{k - 1} l ON s.src = l.node
                GROUP BY s.dst
            ) c ON p.node = c.node
        )
    """


def _hc_iter_sql(k: int) -> str:
    """One unrolled per-seed Bellman-Ford relaxation round (the
    graph_harmonic_sample loop body: seed rides the key)."""
    return f"""
        hd{k} AS MATERIALIZED (
            SELECT COALESCE(p.seed, c.seed) AS seed,
                   COALESCE(p.node, c.node) AS node,
                   LEAST(COALESCE(p.dist, {1 << 30}),
                         COALESCE(c.nd, {1 << 30})) AS dist
            FROM hd{k - 1} p
            FULL JOIN (
                SELECT l.seed, s.dst AS node, MIN(l.dist) + 1 AS nd
                FROM sym s JOIN hd{k - 1} l ON s.src = l.node
                GROUP BY l.seed, s.dst
            ) c ON p.seed = c.seed AND p.node = c.node
        )
    """


def _walk_idx_sql(s: int) -> str:
    """Deterministic neighbor pick for step ``s`` (same md5-mod as
    the Spark twin)."""
    return (
        f"CAST(('0x' || substr(md5(concat(w.walk_id, '_', {s}, '_', w.cur)),"
        f" 1, 6))::BIGINT % len(a.nbrs) + 1 AS BIGINT)"
    )


def _walk_iter_sql(s: int) -> str:
    return f"""
        w{s} AS MATERIALIZED (
            SELECT w.walk_id,
                   a.nbrs[{_walk_idx_sql(s)}] AS cur,
                   w.path || '-'
                   || CAST(a.nbrs[{_walk_idx_sql(s)}] AS VARCHAR) AS path
            FROM w{s - 1} w JOIN adj a ON a.node = w.cur
        )
    """


ORACLES = {
    "graph_hits": """
        WITH edges AS MATERIALIZED (
            SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        h1 AS (
            SELECT s, CAST(COUNT(*) AS DECIMAL(38,0)) AS h
            FROM edges GROUP BY s
        ),
        a1 AS (
            SELECT e.c, CAST(SUM(h1.h) AS DECIMAL(38,0)) AS a
            FROM edges e JOIN h1 ON e.s = h1.s GROUP BY e.c
        ),
        h2 AS (
            SELECT e.s, CAST(SUM(a1.a) AS DECIMAL(38,0)) AS h
            FROM edges e JOIN a1 ON e.c = a1.c GROUP BY e.s
        ),
        a2 AS (
            SELECT e.c, CAST(SUM(h2.h) AS DECIMAL(38,0)) AS a
            FROM edges e JOIN h2 ON e.s = h2.s GROUP BY e.c
        ),
        hub_top AS (
            SELECT 'hub' AS side, s AS node,
                   CAST(ROW_NUMBER() OVER (ORDER BY h DESC, s) AS INT)
                     AS rank,
                   floor(CAST(h AS DOUBLE)
                         / CAST((SELECT MAX(h) FROM h2) AS DOUBLE)
                         * 1e6) / 1e6 AS norm_score
            FROM h2 ORDER BY h DESC, s LIMIT 10
        ),
        auth_top AS (
            SELECT 'authority' AS side, c AS node,
                   CAST(ROW_NUMBER() OVER (ORDER BY a DESC, c) AS INT)
                     AS rank,
                   floor(CAST(a AS DOUBLE)
                         / CAST((SELECT MAX(a) FROM a2) AS DOUBLE)
                         * 1e6) / 1e6 AS norm_score
            FROM a2 ORDER BY a DESC, c LIMIT 10
        )
        SELECT * FROM hub_top
        UNION ALL
        SELECT * FROM auth_top
        ORDER BY side, rank
    """,
    "graph_adamic_adar": """
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT a.l_partkey AS src, b.l_partkey AS dst
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        sym AS (
            SELECT src AS node, dst AS nb FROM edges
            UNION ALL
            SELECT dst AS node, src AS nb FROM edges
        ),
        deg AS (
            SELECT node, COUNT(*) AS deg FROM sym GROUP BY node
        ),
        wedges AS (
            SELECT s1.nb AS a, s2.nb AS b,
                   CAST(1.0 / ln(CAST(d.deg AS DOUBLE))
                        AS DECIMAL(38,6)) AS term
            FROM sym s1
            JOIN sym s2 ON s1.node = s2.node AND s1.nb < s2.nb
            JOIN deg d ON d.node = s1.node
        ),
        scored AS (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
                   SUM(term) AS aa_sum
            FROM wedges GROUP BY a, b
        )
        SELECT s.a, s.b, s.n_common,
               floor(CAST(s.aa_sum AS DOUBLE) * 1e6) / 1e6 AS aa_score
        FROM scored s
        ANTI JOIN edges e ON s.a = e.src AND s.b = e.dst
        ORDER BY aa_score DESC, s.a, s.b
        LIMIT 20
    """,
    "graph_random_walks": f"""
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        adj AS MATERIALIZED (
            SELECT src AS node, list(dst ORDER BY dst) AS nbrs
            FROM sym GROUP BY src
        ),
        deg AS (
            SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src
        ),
        seeds AS (
            SELECT node FROM deg ORDER BY deg DESC, node ASC
            LIMIT {WALKS_N}
        ),
        w0 AS MATERIALIZED (
            SELECT node AS walk_id, node AS cur,
                   CAST(node AS VARCHAR) AS path
            FROM seeds
        ),
        {",".join(_walk_iter_sql(s) for s in range(1, WALK_LEN + 1))}
        SELECT walk_id, cur AS final_node, path
        FROM w{WALK_LEN} ORDER BY walk_id
    """,
    "graph_kcore": f"""
        WITH {_EDGES_SQL},
        ke0 AS MATERIALIZED (SELECT src, dst FROM edges),
        {",".join(_kcore_iter_sql(k) for k in range(1, KCORE_ORACLE_ROUNDS + 1))},
        core_deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                SELECT src AS node FROM ke{KCORE_ORACLE_ROUNDS}
                UNION ALL SELECT dst FROM ke{KCORE_ORACLE_ROUNDS}
            ) GROUP BY node
        )
        SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM core_deg GROUP BY deg ORDER BY deg
    """,
    "graph_knn_degree_curve": f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        per_node AS (
            SELECT s.src,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(CAST(SUM(d.deg) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)
                    AS DECIMAL(38,6)) AS knn
            FROM sym s JOIN deg d ON s.dst = d.node
            GROUP BY s.src
        )
        SELECT k AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               floor(CAST(SUM(knn) AS DOUBLE) / COUNT(*) * 1e6) / 1e6
                 AS mean_neighbor_degree
        FROM per_node
        GROUP BY k
        ORDER BY degree
    """,
    "graph_attr_assortativity": f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        mix AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM sym s
            JOIN part a ON s.src = a.p_partkey
            JOIN part b ON s.dst = b.p_partkey
            GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS m2 FROM mix),
        diag AS (
            SELECT SUM(CAST(CAST(c AS DOUBLE) / CAST(m2 AS DOUBLE)
                        AS DECIMAL(38,18))) AS tr
            FROM mix CROSS JOIN tot WHERE brand_a = brand_b
        ),
        marg_a AS (
            SELECT brand_a, CAST(SUM(c) AS BIGINT) AS ca
            FROM mix GROUP BY brand_a
        ),
        marg_b AS (
            SELECT brand_b, CAST(SUM(c) AS BIGINT) AS cb
            FROM mix GROUP BY brand_b
        ),
        ab AS (
            SELECT SUM(CAST((CAST(ca AS DOUBLE) / CAST(m2 AS DOUBLE))
                            * (CAST(cb AS DOUBLE) / CAST(m2 AS DOUBLE))
                        AS DECIMAL(38,18))) AS sab
            FROM marg_a JOIN marg_b ON marg_a.brand_a = marg_b.brand_b
            CROSS JOIN tot
        )
        SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
               floor(CAST(tr AS DOUBLE) * 1e6) / 1e6 AS same_brand_frac,
               floor((CAST(tr AS DOUBLE) - CAST(sab AS DOUBLE))
                     / (1.0 - CAST(sab AS DOUBLE)) * 1e6) / 1e6
                 AS assortativity
        FROM diag CROSS JOIN ab CROSS JOIN tot
    """,
    "graph_powerlaw_fit": f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
                   SUM(CAST(ln(CAST(deg AS DOUBLE)
                               / {float(POWERLAW_DMIN)!r})
                        AS DECIMAL(38,6))) AS lsum
            FROM deg WHERE deg >= {POWERLAW_DMIN}
        ),
        total AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg
        )
        SELECT n_nodes, n_tail,
               floor(CASE WHEN n_nodes > 0 THEN
                     CAST(n_tail AS DOUBLE) / CAST(n_nodes AS DOUBLE)
                     END * 1e6) / 1e6 AS tail_frac,
               floor(CASE WHEN lsum > 0 THEN
                     1.0 + CAST(n_tail AS DOUBLE)
                           / CAST(lsum AS DOUBLE)
                     END * 1e6) / 1e6 AS alpha_mle
        FROM stats CROSS JOIN total
    """,
    "graph_rich_club": f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src
        ),
        ks AS (SELECT unnest([{",".join(str(k) for k in RICH_CLUB_KS)}]) AS k),
        nodes_k AS (
            SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM deg CROSS JOIN ks WHERE deg > k GROUP BY k
        ),
        edges_k AS (
            SELECT k, CAST(COUNT(*) AS BIGINT) AS n_club_edges
            FROM edges e
            JOIN deg a ON e.src = a.node
            JOIN deg b ON e.dst = b.node
            CROSS JOIN ks
            WHERE a.deg > k AND b.deg > k
            GROUP BY k
        )
        SELECT n.k, n.n_nodes,
               CAST(COALESCE(e.n_club_edges, 0) AS BIGINT) AS n_club_edges,
               floor(CASE WHEN n.n_nodes > 1 THEN
                     2.0 * CAST(COALESCE(e.n_club_edges, 0) AS DOUBLE)
                     / (CAST(n.n_nodes AS DOUBLE)
                        * CAST(n.n_nodes - 1 AS DOUBLE)) END * 1e6) / 1e6
                 AS phi
        FROM nodes_k n LEFT JOIN edges_k e ON n.k = e.k
        ORDER BY n.k
    """,
    "graph_local_bridges": f"""
        WITH {_EDGES_SQL},
        tri AS (
            -- all triangles as canonical node triples a<b<c
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM edges e1
            JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
            JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        ),
        tri_edges AS (
            SELECT a, b FROM tri
            UNION SELECT a, c FROM tri
            UNION SELECT b, c FROM tri
        ),
        bridges AS (
            SELECT e.src, e.dst
            FROM edges e
            ANTI JOIN tri_edges t ON e.src = t.a AND e.dst = t.b
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_bridges,
               floor(CAST(COUNT(*) AS DOUBLE)
                     / (SELECT CAST(COUNT(*) AS DOUBLE) FROM edges)
                     * 1e6) / 1e6 AS bridge_frac
        FROM bridges
    """,
    "graph_harmonic_sample": f"""
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src
        ),
        seeds AS (
            SELECT node AS seed FROM deg ORDER BY deg DESC, node ASC
            LIMIT {HARMONIC_SEEDS}
        ),
        hd0 AS MATERIALIZED (
            SELECT seed, seed AS node, 0 AS dist FROM seeds
        ),
        {",".join(_hc_iter_sql(k) for k in range(1, HARMONIC_ROUNDS + 1))}
        SELECT seed,
               CAST(COUNT(*) AS BIGINT) AS n_reached,
               floor(CAST(SUM(CAST(1.0 / CAST(dist AS DOUBLE)
                                   AS DECIMAL(38,6))) AS DOUBLE)
                     * 1e6) / 1e6 AS harmonic
        FROM hd{HARMONIC_ROUNDS}
        WHERE dist > 0
        GROUP BY seed
        ORDER BY seed
    """,
    "graph_bfs_levels": f"""
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src
        ),
        seeds AS (
            SELECT node FROM deg ORDER BY deg DESC, node ASC
            LIMIT {BFS_N_SEEDS}
        ),
        bd0 AS MATERIALIZED (SELECT node, 0 AS dist FROM seeds),
        {",".join(_bfs_iter_sql(k) for k in range(1, BFS_ROUNDS + 1))}
        SELECT CAST(dist AS INT) AS level,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM bd{BFS_ROUNDS} GROUP BY dist ORDER BY level
    """,
    "graph_assortativity": f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM sym GROUP BY src
        ),
        sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m2,
                   CAST(SUM(a.d) AS BIGINT) AS su,
                   CAST(SUM(b.d) AS BIGINT) AS sv,
                   CAST(SUM(a.d * b.d) AS BIGINT) AS suv,
                   CAST(SUM(a.d * a.d) AS BIGINT) AS suu,
                   CAST(SUM(b.d * b.d) AS BIGINT) AS svv
            FROM sym e
            JOIN deg a ON e.src = a.node
            JOIN deg b ON e.dst = b.node
        )
        SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
               floor((CAST(suv AS DOUBLE)
                      - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)
                        / CAST(m2 AS DOUBLE))
                     / sqrt((CAST(suu AS DOUBLE)
                             - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)
                               / CAST(m2 AS DOUBLE))
                            * (CAST(svv AS DOUBLE)
                               - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                                 / CAST(m2 AS DOUBLE)))
                     * 1e6) / 1e6 AS assortativity
        FROM sums
    """,
    # IN-subquery + LEFT-JOIN-null formulation — different join
    # idioms than the Spark twin's semijoin/anti-join chain.
    "graph_jaccard_links": f"""
        WITH {_EDGES_SQL},
        adj AS (
            SELECT src AS node, dst AS nb FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM adj GROUP BY node
        ),
        wedges AS (
            SELECT x.nb AS a, y.nb AS b
            FROM adj x JOIN adj y ON x.node = y.node AND x.nb < y.nb
            WHERE x.node IN (
                SELECT node FROM deg WHERE d <= {JACCARD_DEG_CAP})
        ),
        common AS (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM wedges GROUP BY a, b
        ),
        nonedge AS (
            SELECT c.* FROM common c
            LEFT JOIN edges e ON c.a = e.src AND c.b = e.dst
            WHERE e.src IS NULL
        )
        SELECT n.a, n.b, n.n_common,
               CAST(da.d + db.d - n.n_common AS BIGINT) AS n_union,
               floor(n.n_common * 1e6 / (da.d + db.d - n.n_common)) / 1e6
                   AS jaccard
        FROM nonedge n
        JOIN deg da ON n.a = da.node
        JOIN deg db ON n.b = db.node
        ORDER BY jaccard DESC, n.a, n.b
        LIMIT 20
    """,
    "graph_degree_stats": f"""
        WITH {_EDGES_SQL},
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM (SELECT src AS node FROM edges
                  UNION ALL SELECT dst FROM edges)
            GROUP BY node
        )
        SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY deg ORDER BY deg
    """,
    # Naive a<b<c triple join — deliberately a different formulation
    # than the oriented wedge join, cross-checking the orientation.
    "graph_squares": f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src
        ),
        adj AS (
            SELECT s.src AS center, s.dst AS leaf
            FROM sym s JOIN deg d ON s.src = d.node
            WHERE d.deg >= 2 AND d.deg <= {SQUARES_DEG_CAP}
        ),
        pairs AS (
            SELECT l1.leaf AS a, l2.leaf AS c,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM adj l1 JOIN adj l2
              ON l1.center = l2.center AND l1.leaf < l2.leaf
            GROUP BY l1.leaf, l2.leaf
        )
        SELECT CAST(SUM(w) AS BIGINT) AS n_wedges,
               CAST(COUNT(*) AS BIGINT) AS n_endpoint_pairs,
               CAST(SUM((w * (w - 1)) // 2) AS BIGINT) AS n_squares
        FROM pairs
    """,
    "graph_triangle_count": f"""
        WITH {_EDGES_SQL}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.src AND e2.dst > e1.dst
        JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    """,
    # Same naive triple join, with per-node attribution: each
    # triangle (a < b < c) counts once for each of its three nodes.
    "graph_clustering_coeff": f"""
        WITH {_EDGES_SQL},
        tris AS MATERIALIZED (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM edges e1
            JOIN edges e2 ON e2.src = e1.src AND e2.dst > e1.dst
            JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        ),
        tcounts AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
                SELECT a AS node FROM tris
                UNION ALL SELECT b FROM tris
                UNION ALL SELECT c FROM tris
            ) GROUP BY node
        ),
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        pern AS (
            SELECT d.deg, COALESCE(t.t, 0) AS t
            FROM deg d LEFT JOIN tcounts t ON d.node = t.node
            WHERE d.deg >= 2
        )
        SELECT CAST(SUM(t) // 3 AS BIGINT) AS n_triangles,
               CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges,
               floor(CAST(SUM(t) AS DOUBLE)
                     / CAST(SUM((deg * (deg - 1)) // 2) AS DOUBLE)
                     * 1e6) / 1e6 AS transitivity,
               floor(CAST(SUM(CAST(CAST(t AS DOUBLE)
                          / (CAST(deg AS DOUBLE) * (deg - 1) / 2)
                          AS DECIMAL(38,18))) AS DOUBLE)
                     / COUNT(*) * 1e6) / 1e6 AS avg_lcc,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM pern
    """,
    # Unrolled min-label relaxation, CC_ORACLE_ROUNDS rounds, each
    # MATERIALIZED (DuckDB would otherwise inline every round's two
    # references — exponential blow-up; and a RECURSIVE reachability
    # closure is near-quadratic on a giant component: ~10^8
    # (node, label) pairs at sf0.1, measured as a >25 min burn).
    # Fixed unroll matches the Spark twin's convergence loop as long
    # as the graph diameter <= CC_ORACLE_ROUNDS — a divergence would
    # surface as a visible hash FAIL, never silently.
    "graph_label_propagation": f"""
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        p0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, src AS label FROM sym
        ),
        {",".join(_lpa_iter_sql(k) for k in range(1, LPA_ITERS + 1))}
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM p{LPA_ITERS}
        GROUP BY label
        ORDER BY n_members DESC, label ASC
    """,
    "graph_core_decomposition": _core_decomp_oracle(),
    "graph_conductance": f"""
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        p0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, src AS label FROM sym
        ),
        {",".join(_lpa_iter_sql(k) for k in range(1, LPA_ITERS + 1))},
        labels AS (SELECT node, label FROM p{LPA_ITERS}),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        intra AS (
            SELECT la.label,
                   CAST(COUNT(*) AS BIGINT) AS internal_edges
            FROM edges e
            JOIN labels la ON e.src = la.node
            JOIN labels lb ON e.dst = lb.node
            WHERE la.label = lb.label
            GROUP BY la.label
        ),
        deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        dsum AS (
            SELECT l.label,
                   CAST(SUM(d.deg) AS BIGINT) AS volume,
                   CAST(COUNT(*) AS BIGINT) AS n_members
            FROM deg d JOIN labels l ON d.node = l.node
            GROUP BY l.label
        )
        SELECT s.label, s.n_members,
               CAST(s.volume - 2 * COALESCE(i.internal_edges, 0) AS BIGINT)
                   AS cut_edges,
               s.volume,
               CASE WHEN least(s.volume, 2 * m.m - s.volume) > 0 THEN
                   floor(CAST(s.volume - 2 * COALESCE(i.internal_edges, 0)
                              AS DOUBLE)
                         / least(s.volume, 2 * m.m - s.volume) * 1e6) / 1e6
               END AS conductance
        FROM dsum s
        LEFT JOIN intra i ON s.label = i.label
        CROSS JOIN m
        ORDER BY conductance ASC NULLS LAST, s.label ASC
    """,
    "graph_modularity": f"""
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        p0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, src AS label FROM sym
        ),
        {",".join(_lpa_iter_sql(k) for k in range(1, LPA_ITERS + 1))},
        labels AS (SELECT node, label FROM p{LPA_ITERS}),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        intra AS (
            SELECT la.label,
                   CAST(COUNT(*) AS BIGINT) AS internal_edges
            FROM edges e
            JOIN labels la ON e.src = la.node
            JOIN labels lb ON e.dst = lb.node
            WHERE la.label = lb.label
            GROUP BY la.label
        ),
        deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        dsum AS (
            SELECT l.label,
                   CAST(SUM(d.deg) AS BIGINT) AS degree_sum,
                   CAST(COUNT(*) AS BIGINT) AS n_members
            FROM deg d JOIN labels l ON d.node = l.node
            GROUP BY l.label
        )
        SELECT s.label, s.n_members,
               CAST(COALESCE(i.internal_edges, 0) AS BIGINT)
                   AS internal_edges,
               s.degree_sum,
               floor((CAST(COALESCE(i.internal_edges, 0) AS DOUBLE)
                        / CAST(m.m AS DOUBLE)
                      - (CAST(s.degree_sum AS DOUBLE)
                         / (2.0 * CAST(m.m AS DOUBLE)))
                        * (CAST(s.degree_sum AS DOUBLE)
                           / (2.0 * CAST(m.m AS DOUBLE)))) * 1e6) / 1e6
                   AS q_contrib
        FROM dsum s
        LEFT JOIN intra i ON s.label = i.label
        CROSS JOIN m
        ORDER BY q_contrib DESC, s.label ASC
    """,
    "graph_components": f"""
        WITH {_EDGES_SQL},
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
        ),
        l0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, src AS label FROM sym
        ),
        {",".join(_cc_iter_sql(k) for k in range(1, CC_ORACLE_ROUNDS + 1))},
        comp AS (
            SELECT node, label FROM l{CC_ORACLE_ROUNDS}
        ),
        sizes AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS component_size
            FROM comp GROUP BY label
        )
        SELECT component_size,
               CAST(COUNT(*) AS BIGINT) AS n_components
        FROM sizes GROUP BY component_size ORDER BY component_size
    """,
    "graph_pagerank": f"""
        WITH {_EDGES_SQL},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        pr0 AS (
            SELECT node, deg,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n,
                   1.0 / CAST((SELECT COUNT(*) FROM deg) AS DOUBLE) AS pr
            FROM deg
        ),
        {",".join(_pr_iter_sql(f"pr{i}", f"pr{i + 1}") for i in range(PR_ITERS))}
        SELECT node AS p_partkey, deg, pr
        FROM pr{PR_ITERS}
        ORDER BY pr DESC, p_partkey
        LIMIT 20
    """,
    # Round-6: iterate-to-epsilon expressed in one statement — fixed
    # unroll + first-delta-below-eps selection (see _prc_iter_sql).
    "graph_pagerank_converged": f"""
        WITH {_EDGES_SQL},
        allnodes AS MATERIALIZED (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
            )
        ),
        odeg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src
        ),
        cpr0 AS MATERIALIZED (
            SELECT a.node,
                   COALESCE(o.outdeg, 0) AS outdeg,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM allnodes) AS n,
                   1.0 / CAST((SELECT COUNT(*) FROM allnodes) AS DOUBLE)
                       AS pr
            FROM allnodes a LEFT JOIN odeg o USING (node)
        ),
        {",".join(_prc_iter_sql(k) for k in range(1, PRC_ORACLE_UNROLL + 1))},
        deltas AS (
            {" UNION ALL ".join(f"SELECT k, delta FROM cd{k}" for k in range(1, PRC_ORACLE_UNROLL + 1))}
        ),
        kstar AS (
            SELECT COALESCE(MIN(k), {PRC_ORACLE_UNROLL}) AS ks
            FROM deltas WHERE CAST(delta AS DOUBLE) < {PR_EPS}
        ),
        prs AS (
            {" UNION ALL ".join(f"SELECT {k} AS k, node, outdeg, pr FROM cpr{k}" for k in range(1, PRC_ORACLE_UNROLL + 1))}
        )
        SELECT p.node AS p_partkey,
               p.outdeg,
               floor(p.pr * 1e9) / 1e9 AS pr,
               CAST(kstar.ks AS INT) AS n_iters
        FROM prs p, kstar
        WHERE p.k = kstar.ks
        ORDER BY pr DESC, p_partkey
        LIMIT 20
    """,
}
