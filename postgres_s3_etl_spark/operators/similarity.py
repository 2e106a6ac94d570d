"""Similarity search over embeddings (SURVEY.md §2.4).

``sim_search_bruteforce`` — exact cosine top-k for a small probe set:
the probes broadcast against the partitioned corpus, so the big side
never shuffles; per-probe top-k via a window over the probe key.
This is the exact baseline any ANN variant is measured against.

``sim_search_lsh`` — random-hyperplane LSH: 16 deterministic ±1
hyperplanes (signs derived from md5, so Spark and the oracle agree),
a 16-bit signature per vector, candidates restricted to
signature-prefix buckets. The scale path: buckets bound the pair
count, trading recall for a ~bucket-fraction of the comparisons.
Recall vs the brute-force baseline is asserted in tests.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_s3_etl_spark.catalog import load_table, table_row_count
from postgres_s3_etl_spark.operators.ranking import GN, GRN, with_global_order
from postgres_s3_etl_spark.session import session_memoized

N_PROBES = 10  # probe set: vec_id < 10
TOP_K = 5
N_PLANES = 16
EMB_DIM = 64
LSH_TABLES = 4  # 4 tables × 4-bit signatures (multi-table banding)
BITS_PER_TABLE = N_PLANES // LSH_TABLES


def _trunc6(col: Column) -> Column:
    return F.floor(col * 1e6) / 1e6


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return emb.withColumn(
        "norm", F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)"))
    )


_DOT = "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"


def sim_search_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each probe (vec_id < 10)."""
    vecs = _vecs(spark, sf_dir)
    probes = vecs.where(F.col("vec_id") < N_PROBES)
    a = probes.alias("a")
    b = vecs.alias("b")
    cosine = _trunc6(
        F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
    ).alias("cosine")
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cosine,
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("probe_id", "rank")
    )


def plane_signs(n_planes: int = N_PLANES) -> list[list[int]]:
    """Deterministic ±1 hyperplane components: sign(p, d) = +1 iff the
    first hex nibble of md5(f"{p}_{d}") is even. Pure public md5 —
    the SQL oracle regenerates the identical matrix. Plane p's
    definition is independent of ``n_planes``, so a wider signature
    is a strict bit-extension of a narrower one."""
    return [
        [
            1 if int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for d in range(EMB_DIM)
        ]
        for p in range(n_planes)
    ]


def _signature(vec_col: str = "v", n_planes: int = N_PLANES) -> Column:
    """``n_planes``-bit LSH signature: bit p set iff plane_p · v > 0.

    Formulated as transform-over-the-planes-array → zip_with bit
    fold, NOT an aggregate indexing ``array(planes)[p]`` per step:
    the indexed form re-evaluates the planes literal inside the
    aggregate lambda once per plane per row (Catalyst does not CSE
    or constant-fold inside higher-order-function lambdas — the
    round-10 CollapseProject lesson), which measured 2× slower at
    sf0.1. Same bits: dot > 0 and pow(2,p)↔shiftleft(1,p) agree for
    every p < 63."""
    planes = plane_signs(n_planes)
    planes_sql = ",".join(
        "array(" + ",".join(str(x) for x in row) + ")" for row in planes
    )
    return F.expr(
        f"""
        aggregate(
            zip_with(
                transform(array({planes_sql}),
                          pl -> aggregate(
                                    zip_with(pl, {vec_col},
                                             (c, x) -> c * x),
                                    0.0d, (s, x) -> s + x)),
                sequence(0, {n_planes - 1}),
                (d, p) -> IF(d > 0.0d, shiftleft(1L, p), 0L)),
            cast(0 as bigint), (acc, x) -> acc + x
        )
        """
    )


def _adaptive_buckets(
    spark: SparkSession, sf_dir: str, with_label: bool = False
) -> DataFrame:
    """Bucket frame ``(vec_id[, label], v, norm, tbl, bucket)`` with
    CORPUS-ADAPTIVE bits per table over the 56-plane signature — the
    Spark twin of ``lsh_bucket_cte(label_blocked=False)``, shared by
    the sim-search family and the unlabeled-join audits
    (embedding_hubness, embedding_label_noise).

    Bits follow the plain (unlabeled) capacity rule
    ``adaptive_dedup_bits(n, 1)``: these joins key on (tbl, bucket)
    alone, so bucket population is n / 2^bits per table — fixed bits
    made the candidate frame quadratic at scale (the round-9 sf10
    decade measured α=1.92 for the fixed-bit dedup frame; same trap
    here). At the driver SFs the rule yields the historical 4 bits,
    so small-SF results are bit-identical to the fixed plan (plane p
    is defined independently of the signature width). The corpus size
    comes from parquet footer metadata (``table_row_count``) — zero
    cluster traffic, memoized across the six consumers of this frame
    (round-10 verdict flagged the per-query eager ``emb.count()``
    here as a full extra scan per query build).
    """
    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    cols = ["vec_id"] + (["label"] if with_label else [])
    emb = widen_if_narrow(
        load_table(spark, sf_dir, "embeddings").select(
            *cols,
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        ),
        "vec_id",
    )
    bits = adaptive_dedup_bits(table_row_count(sf_dir, "embeddings"), 1)
    emb = emb.withColumn(
        "norm", F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)"))
    ).withColumn("sig", _signature("v", DEDUP_SIG_PLANES))
    return emb.select(
        *cols,
        "v",
        "norm",
        F.explode(
            F.expr(
                f"transform(sequence(0, {LSH_TABLES - 1}), t -> struct(t AS tbl, "
                f"(sig div cast(pow(2, t * {bits}) as bigint)) % {1 << bits}L AS bucket))"
            )
        ).alias("tb"),
    ).select(
        *cols,
        "v",
        "norm",
        F.col("tb.tbl").alias("tbl"),
        F.col("tb.bucket").alias("bucket"),
    )


def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 per probe via multi-table hyperplane LSH: the
    56-plane signature splits into 4 tables of corpus-adaptive bits
    (``adaptive_dedup_bits`` — 4 bits at driver SFs, wider as the
    corpus grows so bucket population stays ~DEDUP_TARGET_BUCKET); a
    pair is a candidate if ANY table bucket matches (equi-join on
    (table, bucket) — never a cross join). Approximate — recall vs
    brute force asserted in tests. At scale, more tables trade
    shuffle volume for recall; the plan shape is unchanged."""
    buckets = _adaptive_buckets(spark, sf_dir)
    probes = buckets.where(F.col("vec_id") < N_PROBES)
    a = probes.alias("a")
    b = buckets.alias("b")
    cosine = _trunc6(
        F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
    ).alias("cosine")
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cosine,
        )
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("probe_id", "rank")
    )


IVF_CELLS = 16
N_PROBE_CELLS = 4


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, norm, ranked): every vector with its coarse-
    quantizer cells ranked by dot product — the shared IVF
    assignment step. The dot products accumulate dimension-by-
    dimension (still vectorized across the Arrow batch) instead of a
    BLAS matmul: the left-to-right fold gives bit-identical doubles
    to the SQL engines' sequential list_dot_product folds, so cell
    assignment can't diverge from the oracle on near-ties."""
    from pyspark.sql.pandas.functions import pandas_udf

    vecs = _vecs(spark, sf_dir)
    seeds = vecs.where(F.col("vec_id") < IVF_CELLS).orderBy("vec_id").collect()
    seed_mat = np.array(
        [[x / r.norm for x in r.v] for r in seeds], dtype=np.float64
    )

    @pandas_udf("array<int>")
    def rank_cells(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)
        scores = np.zeros((m.shape[0], seed_mat.shape[0]), dtype=np.float64)
        for d in range(seed_mat.shape[1]):
            scores += m[:, d : d + 1] * seed_mat[:, d]
        # score desc, cell id asc on ties — matches argsort stability.
        order = np.argsort(-scores, axis=1, kind="stable")
        return pd.Series(order.tolist())

    return vecs.withColumn("ranked", rank_cells("v"))


def sim_search_ivf_imbalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF LIST-IMBALANCE audit (round-13) — the index-health readout
    run after building an IVF index and before sizing nprobe: per
    coarse cell its home-assigned vector count and share, plus the
    global imbalance factor cells·Σ share² — the expected-scan-cost
    MULTIPLIER for single-probe queries whose probes distribute like
    the corpus (1.0 = perfectly balanced lists; 2.0 = queries touch
    twice the vectors a balanced index would). A hot list is also a
    hot TASK at cluster scale (every query batch probing it lands on
    the same partition), so this is the salting diagnostic of the
    ANN world — read next to `q_join_skew_report`.

    Cross-engine determinism: home cells come from the shared
    fold-exact assignment (`_ivf_assigned`); the share² sum is 16
    IEEE products cast to DECIMAL(38,18) before the order-free SUM.
    Scale: one corpus pass for assignment, a 16-key rollup, then
    arithmetic on the 16-row frame.
    """
    homes = _ivf_assigned(spark, sf_dir).select(
        F.expr("element_at(ranked, 1)").alias("cell")
    )
    per_cell = homes.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    total = per_cell.agg(
        F.sum("n_vectors").cast("double").alias("total")
    )
    shared = per_cell.crossJoin(F.broadcast(total)).withColumn(
        "share_d", F.col("n_vectors").cast("double") / F.col("total")
    ).localCheckpoint()  # 16 rows, referenced twice
    imb = shared.agg(
        (
            F.lit(float(IVF_CELLS))
            * F.sum(
                (F.col("share_d") * F.col("share_d")).cast(
                    "decimal(38,18)"
                )
            ).cast("double")
        ).alias("imb")
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        shared.crossJoin(F.broadcast(imb))
        .select(
            "cell",
            "n_vectors",
            f6(F.col("share_d")).alias("share"),
            f6(F.col("imb")).alias("imbalance_factor"),
        )
        .orderBy("cell")
    )


def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 per probe via IVF: ``IVF_CELLS`` coarse-quantizer
    vectors (the first 16 corpus vectors, normalized — deterministic
    stand-ins for trained k-means centroids), every vector assigned
    row-locally to its max-dot-product cell, and each probe searching
    only its ``N_PROBE_CELLS`` best cells.

    Scale shape: the quantizer is tiny and rides to every task in the
    UDF closure (the same collect-then-broadcast step distributed
    k-means does each iteration — 16 rows, bounded, not a data
    collect); cell ranking is a vectorized Arrow-batched Pandas UDF —
    a numeric kernel where a codegen'd per-element SQL expression is
    both slower to compile and slower to run; the only shuffle is the
    cell equi-join, which touches nprobe/cells of the corpus per
    probe. The quantizer is deterministic, so the cell assignment —
    and with it the full top-k output — has an exact SQL oracle.
    """
    assigned = _ivf_assigned(spark, sf_dir)
    corpus = assigned.select(
        "vec_id", "v", "norm", F.element_at("ranked", 1).alias("cell")
    )
    probes = assigned.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("norm").alias("pnorm"),
        F.explode(F.slice("ranked", 1, N_PROBE_CELLS)).alias("cell"),
    )
    cand_cos = _trunc6(
        F.expr("aggregate(zip_with(pv, v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)")
        / (F.col("pnorm") * F.col("norm"))
    ).alias("cosine")
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(probes)
        .join(
            corpus,
            (probes.cell == corpus.cell)
            & (F.col("probe_id") != F.col("vec_id")),
        )
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), cand_cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("probe_id", "rank")
    )


def sim_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED vector search — the pattern every vector
    store struggles with ("nearest neighbors WHERE label = X"):
    per probe, the correct PRE-FILTER result (exact top-k among
    same-label vectors) vs the naive POST-FILTER strategy (take the
    overall top-k, then filter by label) — and the post-filter
    recall, which collapses when the filter is selective (≈1/10
    here, so post-filter keeps ~k/10 of the answer). The operator IS
    the measurement that justifies filter-aware index traversal.

    Scale/determinism shape: probe-bounded exact scans (the corpus
    is crossed only against the 10 probes, as in every eval here);
    cosine is the shared sequential fold + f6; both ranked lists
    tie-break on neighbor id. One equi-condition on the label is
    the only difference between the two strategies.
    """
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    vecs = vecs.withColumn(
        "norm", F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)"))
    )
    a = vecs.where(F.col("vec_id") < N_PROBES).alias("a")
    b = vecs.alias("b")
    cosine = _trunc6(
        F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
    )
    pairs = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (F.col("a.label") == F.col("b.label")).alias("same_label"),
            cosine.alias("cosine"),
        )
    )
    w_pre = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    pre = (
        pairs.where(F.col("same_label"))
        .withColumn("rank", F.row_number().over(w_pre))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )
    post = (
        pairs.withColumn("rank", F.row_number().over(w_pre))
        .where((F.col("rank") <= TOP_K) & F.col("same_label"))
        .select("probe_id", "neighbor_id", F.lit(1).alias("kept"))
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        pre.join(post, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_prefilter"),
            F.sum(F.coalesce("kept", F.lit(0)))
            .cast("bigint")
            .alias("n_postfilter_hits"),
        )
        .select(
            "probe_id",
            "n_prefilter",
            "n_postfilter_hits",
            f6(
                F.col("n_postfilter_hits").cast("double")
                / F.col("n_prefilter").cast("double")
            ).alias("postfilter_recall"),
        )
        .orderBy("probe_id")
    )


#: nprobe values to sweep (≤ N_PROBE_CELLS so one assignment pass
#: serves every point).
IVF_NPROBE_CURVE = (1, 2, 4)


def sim_search_ivf_nprobe_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k vs nprobe for the IVF path — the #1 IVF tuning knob:
    how many coarse cells each probe searches. One assignment pass
    tags every candidate with the CELL RANK at which its cell enters
    the probe's search order, so the whole curve (nprobe ∈ {1,2,4})
    falls out of a single candidate frame filtered per sweep point;
    each point's top-k re-ranks only that point's candidates, and
    recall is measured against the exact cosine top-k.

    Scale shape: identical to sim_search_ivf (cell equi-join touches
    nprobe/cells of the corpus per probe) + the probe-bounded eval;
    the sweep adds a constant 3× fan-out of the candidate frame.
    """
    assigned = _ivf_assigned(spark, sf_dir)
    max_np = max(IVF_NPROBE_CURVE)
    corpus = assigned.select(
        "vec_id", "v", "norm", F.element_at("ranked", 1).alias("cell")
    )
    probes = assigned.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("norm").alias("pnorm"),
        F.posexplode(F.slice("ranked", 1, max_np)).alias("cpos", "cell"),
    ).withColumn("cell_rank", F.col("cpos") + 1).drop("cpos")
    cand_cos = _trunc6(
        F.expr(
            "aggregate(zip_with(pv, v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
        )
        / (F.col("pnorm") * F.col("norm"))
    )
    cands = (
        F.broadcast(probes)
        .join(corpus, probes.cell == corpus.cell)
        .where(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell_rank",
            cand_cos.alias("cosine"),
        )
    )
    swept = cands.withColumn(
        "nprobe",
        F.explode(F.array(*[F.lit(p) for p in IVF_NPROBE_CURVE])),
    ).where(F.col("cell_rank") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    approx = (
        swept.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("nprobe", "probe_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    exact = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        exact.withColumn(
            "nprobe",
            F.explode(F.array(*[F.lit(p) for p in IVF_NPROBE_CURVE])),
        )
        .join(approx, ["nprobe", "probe_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.countDistinct("probe_id").cast("bigint").alias("n_probes"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("bigint")
            .alias("found"),
        )
        .select(
            "nprobe",
            "n_probes",
            "n_pairs",
            "found",
            f6(
                F.col("found").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("mean_recall"),
        )
        .orderBy("nprobe")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus (the standard
    4× storage/bandwidth shrink before ANN serving): per-dimension
    corpus min/max → ``code = floor((v - mn) * 255 / (mx - mn))``
    clamped to [0, 255], re-packed per vector in dimension order.

    Cross-engine exactness: float32 → double widening is exact in
    both engines, and the quantization is one mirrored IEEE
    expression over it, so the integer codes hash-match bit-for-bit.

    Scale: the stats table is DIM rows (constant) — computed with one
    map-side-combined shuffle on ``pos`` and broadcast back; the
    per-vector repack is row-local. Nothing about this plan changes
    at 100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", "pos", F.col("vf").cast("double").alias("v"))
    stats = ex.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    code = F.least(
        F.lit(255),
        F.floor((F.col("v") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn"))),
    ).cast("int")
    q = ex.join(F.broadcast(stats), "pos").select("vec_id", "pos", code.alias("code"))
    return (
        q.groupBy("vec_id")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(pos, code))), x -> x.code)")
            .alias("codes")
        )
        .orderBy("vec_id")
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health profile of the embedding space over the
    int8-quantized view: variance and distinct-level count per
    dimension, with a dead-dimension flag — collapsed dimensions
    waste index capacity and show up here as near-zero variance.

    Integer codes make the sufficient statistics (Σc, Σc²) exact
    bigints — order-independent with no fold needed; one posexplode
    + one dimension-grain aggregation (DIM rows out).
    """
    codes = embedding_quantize(spark, sf_dir).select(
        "vec_id", F.posexplode("codes").alias("pos", "c")
    )
    stats = codes.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.countDistinct("c").alias("n_levels"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    var = F.col("s2") / n - mean * mean
    return (
        stats.select(
            "pos",
            F.col("n_levels").cast("bigint").alias("n_levels"),
            (F.floor(var * 1e4) / 1e4).alias("code_variance"),
            (F.col("n_levels") <= 2).alias("is_dead"),
        )
        .orderBy("pos")
    )


def embedding_code_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-embedding detection at int8-quantization resolution:
    vectors whose scalar-quantized codes are identical — the cheap
    exact pass that catches repeated/copied embeddings (re-encoded
    rows, collapsed encoder outputs) before ANN indexing, without
    any pair join: one md5 digest of the code array per vector, one
    digest shuffle (the dedup_exact recipe on the quantized view).
    """
    codes = embedding_quantize(spark, sf_dir).select(
        "vec_id",
        F.md5(F.concat_ws(",", F.col("codes").cast("array<string>"))).alias(
            "digest"
        ),
    )
    groups = codes.groupBy("digest").agg(
        F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("keep_id")
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_unique_codes"),
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_vectors"),
        F.max("n").alias("max_group"),
    )


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector, the TOP_K most-similar vectors carrying a DIFFERENT label
    — the "close but wrong" examples a metric-learning objective
    needs. Same plan as the brute-force ANN (probes broadcast against
    the partitioned corpus, big side never shuffles, per-probe top-k
    window on the probe key), plus a label-inequality residual on the
    joined pairs.

    Scale: this is the exact-mining baseline for a bounded probe set
    (e.g. the per-batch anchors of a training step). Corpus-wide
    all-pairs mining composes the LSH bucketing (``sim_search_lsh``)
    with the same label-inequality residual — candidate pairs stay
    bucket-bounded, never O(n²).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    emb = emb.withColumn(
        "norm", F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)"))
    )
    probes = emb.where(F.col("vec_id") < N_PROBES)
    a = probes.alias("a")
    b = emb.alias("b")
    cosine = _trunc6(
        F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
    ).alias("cosine")
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.label") != F.col("b.label"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("a.label").alias("probe_label"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("b.label").alias("neighbor_label"),
            cosine,
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("probe_id", "rank")
    )


def sim_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class operator: per-probe
    recall@k of the LSH path against the exact brute-force top-k,
    plus the corpus mean — the measure-don't-guess loop a production
    ANN deployment runs on every index build (recall here, latency in
    bench.py).

    Plan: both candidate pipelines already exist; the eval is a
    probe-grain left join of exact top-k onto the LSH hit set (both
    N_PROBES × TOP_K rows — trivially small at any corpus scale,
    because the probe set bounds them, not the corpus).
    """
    exact = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    approx = sim_search_lsh(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.lit(1).alias("hit")
    )
    per_probe = (
        exact.join(approx, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("found"),
        )
        .select(
            "probe_id",
            "k",
            "found",
            (F.floor(F.col("found") * 1e6 / F.col("k")) / 1e6).alias("recall"),
        )
    )
    return per_probe.orderBy("probe_id")


#: Cut-offs for the recall@k curve (≤ TOP_K — both ranked lists are
#: already materialized to that depth).
RECALL_KS = (1, 3, 5)


def sim_search_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k CURVE for the LSH path: mean recall at k ∈ {1, 3, 5}
    against the exact ranking — recall@1 is "is the single nearest
    neighbor found", recall@5 the standing operating point; the
    curve shape (flat vs climbing) tells whether LSH errors are
    rank-swaps near the top or genuine misses, which decides whether
    to add tables or deepen the rerank.

    Plan: both ranked lists are probe-bounded (N_PROBES × TOP_K
    rows); the k sweep is a row-local literal-array explode over the
    joined eval frame — corpus size never enters.
    """
    exact = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.col("rank").alias("erank")
    )
    approx = sim_search_lsh(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.col("rank").alias("arank")
    )
    base = exact.join(approx, ["probe_id", "neighbor_id"], "left")
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        base.withColumn(
            "k", F.explode(F.array(*[F.lit(k) for k in RECALL_KS]))
        )
        .where(F.col("erank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.countDistinct("probe_id").cast("bigint").alias("n_probes"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(F.col("arank") <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("found"),
        )
        .select(
            "k",
            "n_probes",
            "n_pairs",
            "found",
            f6(
                F.col("found").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("mean_recall"),
        )
        .orderBy("k")
    )


def sim_search_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-aware ANN quality: per-probe NDCG@k of the LSH ranking
    against the exact cosine ranking — recall@k (sim_search_recall)
    says WHETHER the true neighbors surface; NDCG says whether they
    surface IN ORDER, which is what a retrieval UI or a hard-negative
    miner actually consumes. Graded relevance = k+1−exact_rank
    (5,4,…,1), DCG = Σ rel/log₂(approx_rank+1), normalized by the
    ideal DCG from the exact ranking itself.

    Cross-engine determinism: each gain term is pinned to
    DECIMAL(38,6) before the per-probe fold (≤k terms, but two
    engines could still fold doubles in different order), and the
    final NDCG is one mirrored double division.

    Plan: both ranked lists are probe-bounded (N_PROBES×k rows);
    the eval is two small joins + rollups — corpus size never enters.
    """
    log2 = lambda c: F.log(c.cast("double")) / F.log(F.lit(2.0))  # noqa: E731
    exact = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id",
        "neighbor_id",
        (F.lit(TOP_K + 1) - F.col("rank")).alias("rel"),
        F.col("rank").alias("erank"),
    )
    idcg = exact.groupBy("probe_id").agg(
        F.sum(
            (
                F.col("rel").cast("double")
                / log2(F.col("erank") + F.lit(1))
            ).cast("decimal(38,6)")
        ).alias("idcg")
    )
    approx = sim_search_lsh(spark, sf_dir).select(
        "probe_id", "neighbor_id", "rank"
    )
    dcg = (
        approx.join(
            exact.select("probe_id", "neighbor_id", "rel"),
            ["probe_id", "neighbor_id"],
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.sum(
                (
                    F.coalesce(F.col("rel"), F.lit(0)).cast("double")
                    / log2(F.col("rank") + F.lit(1))
                ).cast("decimal(38,6)")
            ).alias("dcg")
        )
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        idcg.join(dcg, "probe_id", "left")
        .select(
            "probe_id",
            f6(F.coalesce(F.col("dcg"), F.lit(0)).cast("double")).alias(
                "dcg"
            ),
            f6(
                F.coalesce(F.col("dcg"), F.lit(0)).cast("double")
                / F.col("idcg").cast("double")
            ).alias("ndcg"),
        )
        .orderBy("probe_id")
    )


#: Lowe-ratio reliability bar: a top-1 match whose distance is under
#: MARGIN_RATIO_MAX of the runner-up's is "reliable" (the classical
#: 0.8 ratio-test operating point from the matching literature).
MARGIN_RATIO_MAX = 0.8


def embedding_topk_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe top-1 MARGIN diagnostics (round-12): the Lowe ratio
    test for nearest-neighbor reliability — d1/d2 over cosine
    distances (d = 1 − cos) of the exact top-2 neighbors. Recall/NDCG
    grade the ANN index; the ratio grades the QUERY: a top-1 barely
    ahead of the runner-up (ratio → 1) is an unreliable match
    whatever the index, and a dedup/linking pipeline routes it to
    review instead of auto-merge. Emits per-probe nn1, d1, d2, the
    floor-6 ratio, and the ratio < 0.8 verdict.

    Cross-engine determinism: cosines are floor-6 BEFORE ranking and
    differencing (the bruteforce contract), so d1/d2 and the verdict
    compare identically-derived doubles; the ratio is one mirrored
    division behind try_divide (d2 = 0 → NULL, never a crash).

    Plan: rides the probe-broadcast brute-force scan — the corpus is
    SCANNED once, then the probe x corpus pair projection shuffles by
    probe_id into at most N_PROBES partitions for the per-probe
    row_number sort (the same shape as sim_search_bruteforce); the
    pivot after the rank<=2 cut is a 2*N_PROBES-row conditional
    aggregation.
    """
    vecs = _vecs(spark, sf_dir)
    probes = vecs.where(F.col("vec_id") < N_PROBES)
    a = probes.alias("a")
    b = vecs.alias("b")
    cosine = _trunc6(
        F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
    ).alias("cosine")
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    top2 = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cosine,
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
    )
    pick = lambda r, c: F.max(  # noqa: E731
        F.when(F.col("rank") == r, F.col(c))
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    d1 = F.lit(1.0) - F.col("cos1")
    d2 = F.lit(1.0) - F.col("cos2")
    ratio = f6(F.try_divide(d1, d2))
    return (
        top2.groupBy("probe_id")
        .agg(
            pick(1, "neighbor_id").cast("bigint").alias("nn1_id"),
            pick(1, "cosine").alias("cos1"),
            pick(2, "cosine").alias("cos2"),
        )
        .select(
            "probe_id",
            "nn1_id",
            f6(d1).alias("d1"),
            f6(d2).alias("d2"),
            ratio.alias("ratio"),
            (ratio < MARGIN_RATIO_MAX).alias("is_reliable"),
        )
        .orderBy("probe_id")
    )


def embedding_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classifier evaluation — the label-quality readout every
    embedding pipeline runs before trusting labels for training:
    each probe's label is predicted by majority vote over its exact
    cosine top-5 neighbors (tie → smaller label id), compared to its
    own label. Per-probe verdicts; disagreements are the label-noise
    suspects embedding_label_noise triages in bulk.

    Plan: rides the probe-bounded brute-force ranking (corpus never
    shuffles, probes broadcast); the vote is one count rollup + one
    rank over ≤ 5·N_PROBES rows.
    """
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    nb = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    votes = (
        nb.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nb_label"),
            ),
            "neighbor_id",
        )
        .groupBy("probe_id", "nb_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("n_votes"), F.asc("nb_label")
    )
    pred = (
        votes.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "probe_id",
            F.col("nb_label").alias("pred_label"),
            "n_votes",
        )
    )
    return (
        pred.join(
            labels.select(
                F.col("vec_id").alias("probe_id"),
                F.col("label").alias("true_label"),
            ),
            "probe_id",
        )
        .select(
            "probe_id",
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("true_label") == F.col("pred_label")).alias("correct"),
        )
        .orderBy("probe_id")
    )


def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017):
    ``ID = n / Σ ln(r₂/r₁)`` over the probes' two nearest EUCLIDEAN
    neighbors — how many effective degrees of freedom the embedding
    actually uses (ID ≪ d ⇒ the manifold is thin and aggressive
    truncation/quantization is safe; pairs with the Matryoshka and
    JL audits).

    Cross-engine determinism: squared distances come from the
    expanded form ‖a‖²+‖b‖²−2a·b of sequential-fold dots (the
    engine-shared contract all similarity ops use); each ln ratio
    pins to DECIMAL(38,6). Plan: probe-bounded — the corpus never
    shuffles; per-probe top-2 is a bounded window.
    """
    vecs = _vecs(spark, sf_dir)
    a = vecs.where(F.col("vec_id") < N_PROBES).alias("a")
    b = vecs.alias("b")
    d2 = (
        F.col("a.norm") * F.col("a.norm")
        + F.col("b.norm") * F.col("b.norm")
        - 2.0 * F.expr(_DOT)
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("dist2"), F.asc("neighbor_id")
    )
    top2 = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.greatest(d2, F.lit(0.0)).alias("dist2"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
    )
    ratios = (
        top2.groupBy("probe_id")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("dist2"))).alias("d1"),
            F.max(F.when(F.col("rnk") == 2, F.col("dist2"))).alias("d2"),
        )
        .where(F.col("d1") > 0)
        .select(
            (
                F.lit(0.5) * F.log(F.col("d2") / F.col("d1"))
            )
            .cast("decimal(38,6)")
            .alias("lr")  # ln(r2/r1) = 0.5 * ln(d2²ratio)
        )
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return ratios.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("lr").alias("lsum"),
    ).select(
        "n_probes",
        f6(
            F.col("n_probes").cast("double")
            / F.col("lsum").cast("double")
        ).alias("intrinsic_dim"),
    )


#: MMD population split: first half of vec_id space = reference
#: batch, second half = current batch (the index-rebuild drift gate).
MMD_SPLIT_FRAC = 0.5


def embedding_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy between the reference
    and current embedding batches (vec_id halves): with the linear
    kernel, MMD² reduces EXACTLY to ‖μ_ref − μ_cur‖² — the two-sample
    drift gate production vector stores run before deciding an index
    or encoder rebuild (the embedding-space sibling of the PSI/W₁
    monitors on scalars). Emits MMD², per-dim max mean gap, and the
    mean-norm context.

    Cross-engine determinism: per-dim sums are exact
    DECIMAL(38,18); means, gaps, and the Σgap² fold are mirrored
    double expressions with per-term decimal pinning. Scale shape:
    one row-local posexplode → one partial-aggregatable
    (half, dim) rollup (2·d rows out) → a d-row join and one scalar
    fold; corpus size only touches the first rollup.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    split = emb.agg(
        (F.max("vec_id") * F.lit(MMD_SPLIT_FRAC)).alias("cut")
    )
    dims = (
        emb.crossJoin(F.broadcast(split))
        .select(
            (F.col("vec_id") <= F.col("cut")).alias("is_ref"),
            F.posexplode("v").alias("dim", "val"),
        )
        .groupBy("is_ref", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("val").cast("decimal(38,18)")).alias("s"),
        )
    )
    ref = dims.where(F.col("is_ref")).select(
        "dim",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "m_ref"
        ),
        F.col("n").alias("n_ref"),
    )
    cur = dims.where(~F.col("is_ref")).select(
        "dim",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "m_cur"
        ),
        F.col("n").alias("n_cur"),
    )
    gap = F.col("m_ref") - F.col("m_cur")
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        ref.join(cur, "dim")
        .select(
            "n_ref",
            "n_cur",
            (gap * gap).cast("decimal(38,18)").alias("g2"),
            F.abs(gap).cast("decimal(38,18)").alias("ag"),
        )
        .groupBy("n_ref", "n_cur")
        .agg(
            F.sum("g2").alias("mmd2"),
            F.max("ag").alias("max_gap"),
        )
        .select(
            "n_ref",
            "n_cur",
            f6(F.col("mmd2").cast("double") * 1e3).alias("mmd2_x1e3"),
            f6(F.col("max_gap").cast("double") * 1e3).alias(
                "max_dim_gap_x1e3"
            ),
        )
    )


#: Incremental split: vectors with id below the threshold fraction
#: are the "already-indexed" corpus; the rest are new arrivals.
INCR_SPLIT_FRAC = 0.8


def sim_search_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the interactive-session
    pattern): a cached per-probe top-k over the already-indexed
    corpus is MERGED with scores of newly-arrived vectors — re-rank
    over k + |new matches| rows per probe, never a corpus rescan.
    Correct because cosine top-k is a monotone selection: dropping a
    vector that wasn't in the old top-k can never promote it after
    more data arrives.

    The oracle is the FULL-corpus top-k (one scan) — deliberately
    the non-incremental formulation, so the compare proves the
    incremental identity, not just the arithmetic.
    """
    vecs = _vecs(spark, sf_dir)
    # Scalar corpus size drives the deterministic split; footer
    # metadata, not a scan (embeddings is read unfiltered here).
    n_total = table_row_count(sf_dir, "embeddings")
    cut = int(n_total * INCR_SPLIT_FRAC)
    indexed = vecs.where(F.col("vec_id") < cut)
    arrivals = vecs.where(F.col("vec_id") >= cut)
    probes = vecs.where(F.col("vec_id") < N_PROBES)

    def _score(side: DataFrame) -> DataFrame:
        a, b = probes.alias("a"), side.alias("b")
        return (
            F.broadcast(a)
            .crossJoin(b)
            .where(F.col("a.vec_id") != F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("probe_id"),
                F.col("b.vec_id").alias("neighbor_id"),
                _trunc6(
                    F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
                ).alias("cosine"),
            )
        )

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    cached = (
        _score(indexed)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .drop("rank")
    )
    merged = cached.unionByName(_score(arrivals))
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("probe_id", "rank")
    )


def embedding_unit_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization through ``mapInArrow`` — the zero-copy Arrow
    batch path (Spark 4's fastest Python lane; no pandas conversion,
    no per-row Python). Emits each vector's norm and its unit-vector
    head/tail components — the prep step before cosine ANN when the
    index stores unit vectors.

    Bit-exactness across engines: the norm accumulates
    DIM-SEQUENTIALLY but row-vectorized (``acc += x_d²`` per
    dimension over the whole batch) — the identical add order as the
    SQL engines' sequential folds, unlike ``numpy.sum``'s pairwise
    tree. Divisions are one IEEE op per component.
    """
    import pyarrow as pa_mod

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )

    def normalize(batches):
        for batch in batches:
            tbl = pa_mod.Table.from_batches([batch])
            ids = tbl.column("vec_id").to_numpy()
            mat = np.array(tbl.column("v").to_pylist(), dtype=np.float64)
            if mat.size == 0:
                continue
            acc = np.zeros(len(ids), dtype=np.float64)
            for d in range(mat.shape[1]):  # sequential over dims
                acc = acc + mat[:, d] * mat[:, d]
            norm = np.sqrt(acc)
            yield pa_mod.RecordBatch.from_arrays(
                [
                    pa_mod.array(ids, type=pa_mod.int64()),
                    pa_mod.array(norm),
                    pa_mod.array(mat[:, 0] / norm),
                    pa_mod.array(mat[:, -1] / norm),
                ],
                names=["vec_id", "norm", "u_first", "u_last"],
            )

    out_schema = (
        "vec_id bigint, norm double, u_first double, u_last double"
    )
    res = emb.mapInArrow(normalize, out_schema)
    f6 = _trunc6
    return res.select(
        "vec_id",
        f6(F.col("norm")).alias("norm"),
        f6(F.col("u_first")).alias("u_first"),
        f6(F.col("u_last")).alias("u_last"),
    ).orderBy("vec_id")


#: LSH tuning sweep: table counts to evaluate (16 planes split into
#: t tables of 16/t bits — more tables = bigger buckets = more
#: candidates = higher recall).
LSH_SWEEP_TABLES = (2, 4, 8)


def sim_search_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index tuning as a query: for each LSH banding configuration
    (t tables × 16/t bits from the SAME 16-plane signature), the
    candidate-pair cost per probe and the recall@k against the exact
    top-k — the measure-don't-guess table that picks an ANN
    operating point before a corpus-wide build.

    Scale shape: one signature computation feeds every
    configuration; per config the candidate set is the same
    (table, bucket) equi-join as the production path, and the eval
    joins stay probe-grain. Recall micro-averages from exact ints.
    """
    vecs = _vecs(spark, sf_dir).withColumn("sig", _signature("v"))
    exact = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    out = []
    for t in LSH_SWEEP_TABLES:
        bits = N_PLANES // t
        buckets = vecs.select(
            "vec_id",
            "v",
            "norm",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {t - 1}), t -> struct(t AS tbl, "
                    f"(sig div cast(pow(2, t * {bits}) as bigint)) % {2 ** bits} AS bucket))"
                )
            ).alias("tb"),
        ).select(
            "vec_id", "v", "norm",
            F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
        )
        a = buckets.where(F.col("vec_id") < N_PROBES).alias("a")
        b = buckets.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") != F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("probe_id"),
                F.col("b.vec_id").alias("neighbor_id"),
                _trunc6(
                    F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
                ).alias("cosine"),
            )
            .distinct()
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        topk = (
            cands.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .select("probe_id", "neighbor_id", F.lit(1).alias("hit"))
        )
        n_cand = cands.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates")
        )
        rec = exact.join(topk, ["probe_id", "neighbor_id"], "left").agg(
            F.count(F.lit(1)).cast("bigint").alias("total_k"),
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("bigint")
            .alias("total_found"),
        )
        out.append(
            rec.crossJoin(F.broadcast(n_cand)).select(
                F.lit(t).alias("n_tables"),
                F.lit(bits).alias("bits_per_table"),
                "n_candidates",
                "total_k",
                "total_found",
                (
                    F.floor(F.col("total_found") * 1e6 / F.col("total_k"))
                    / 1e6
                ).alias("recall_micro"),
            )
        )
    from functools import reduce as _reduce

    return _reduce(lambda x, y: x.unionByName(y), out).orderBy("n_tables")


def embedding_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by kNN disagreement (confident-learning
    lite): for EVERY vector, the fraction of its ≤5 nearest LSH
    neighbors carrying a different label; a vector whose neighborhood
    majority disagrees (2·diff > k) is flagged as likely mislabeled.
    Rolled up per label: micro-averaged disagreement + flag count —
    the triage table a dataset-QA pass reads before relabeling.

    Scale shape: corpus-wide kNN is quadratic; candidates come from
    the SAME corpus-adaptive multi-table hyperplane-LSH buckets as
    sim_search_lsh (equi-join on (table, bucket) — bits widen with
    the corpus so bucket occupancy, hence the pair frame, stays
    ~linear). All disagreement ratios are exact integer
    micro-averages — no float mean crosses engines.
    """
    buckets = _adaptive_buckets(spark, sf_dir, with_label=True)
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    ).withColumn(
        "norm", F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)"))
    )
    # Dedup (va, vb) int pairs FIRST (a pair can share several table
    # buckets), then join the vectors back for ONE cosine fold per
    # surviving pair — the 64-dim fold is the expensive part, and
    # multi-table matches would otherwise recompute it per bucket hit.
    thin = buckets.select("vec_id", "tbl", "bucket")
    a, b = thin.alias("a"), thin.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
        )
        .distinct()
    )
    va_side = base.select(
        F.col("vec_id").alias("va"),
        F.col("label").alias("la"),
        F.col("v").alias("av"),
        F.col("norm").alias("anorm"),
    )
    vb_side = base.select(
        F.col("vec_id").alias("vb"),
        F.col("label").alias("lb"),
        F.col("v").alias("bv"),
        F.col("norm").alias("bnorm"),
    )
    cands = (
        pairs.join(va_side, "va")
        .join(vb_side, "vb")
        .select(
            "va",
            "la",
            "vb",
            "lb",
            _trunc6(
                F.expr(
                    "aggregate(zip_with(av, bv, (x, y) -> x * y),"
                    " 0.0d, (s, x) -> s + x)"
                )
                / (F.col("anorm") * F.col("bnorm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("va").orderBy(F.desc("cosine"), F.asc("vb"))
    per_vec = (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .groupBy("va", "la")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.when(F.col("la") != F.col("lb"), 1).otherwise(0)).alias(
                "diff"
            ),
        )
    )
    return (
        per_vec.groupBy(F.col("la").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("k").cast("bigint").alias("total_k"),
            F.sum("diff").cast("bigint").alias("total_diff"),
            F.sum(
                F.when(F.lit(2) * F.col("diff") > F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .select(
            "label",
            "n_vecs",
            "total_k",
            "total_diff",
            "n_flagged",
            (
                F.floor(F.col("total_diff") * 1e6 / F.col("total_k")) / 1e6
            ).alias("noise_micro"),
        )
        .orderBy("label")
    )


#: Matryoshka evaluation prefixes (the MRL question: how much of the
#: full-dim ranking survives a prefix truncation).
MRL_DIMS = (8, 16, 32, 64)


def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: recall@k of cosine
    top-k computed from only the first D dimensions against the
    full-dimension exact top-k, for D in MRL_DIMS — the table that
    decides how far an embedding column can be truncated (for
    cheaper ANN / storage) before retrieval quality drops. D=64 is
    the identity row (recall 1.0 by construction — a built-in
    sanity check).

    Scale shape: each prefix ranking is the brute-force plan with
    sliced vectors (probes broadcast, corpus never shuffles); the
    recall join is probe-grain (N_PROBES × TOP_K rows per dim).
    Recall is micro-averaged from exact integer hit counts — no
    float mean crosses engines.
    """
    vecs = _vecs(spark, sf_dir)
    exact = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    per_dim = []
    for d in MRL_DIMS:
        sub = vecs.select(
            "vec_id", F.expr(f"slice(v, 1, {d})").alias("v")
        ).withColumn(
            "norm",
            F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)")),
        )
        a = sub.where(F.col("vec_id") < N_PROBES).alias("a")
        b = sub.alias("b")
        cosine = _trunc6(
            F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
        ).alias("cosine")
        w = Window.partitionBy("probe_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        topk = (
            F.broadcast(a)
            .crossJoin(b)
            .where(F.col("a.vec_id") != F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("probe_id"),
                F.col("b.vec_id").alias("neighbor_id"),
                cosine,
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .select("probe_id", "neighbor_id", F.lit(1).alias("hit"))
        )
        per_dim.append(
            exact.join(topk, ["probe_id", "neighbor_id"], "left")
            .agg(
                F.lit(d).alias("dim"),
                F.count(F.lit(1)).cast("bigint").alias("total_k"),
                F.sum(F.coalesce("hit", F.lit(0)))
                .cast("bigint")
                .alias("total_found"),
            )
        )
    from functools import reduce as _reduce

    allrows = _reduce(lambda x, y: x.unionByName(y), per_dim)
    return allrows.select(
        "dim",
        "total_k",
        "total_found",
        (
            F.floor(F.col("total_found") * 1e6 / F.col("total_k")) / 1e6
        ).alias("recall_micro"),
    ).orderBy("dim")


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus hygiene: flag vectors whose L2 norm falls
    outside the exact discrete [p01, p99] band — degenerate/corrupt
    embeddings (near-zero or exploded norms) poison cosine ANN and
    contrastive training, so this scan runs before either.

    Exactness: norms come from the same sequential fold as the ANN
    dot products (bit-identical to the SQL engines' folds), and the
    band bounds are actual data values picked by row_number
    (percentile_disc semantics) over the two-pass range-partitioned
    rank (ranking.with_global_order) — the norm column never funnels
    through a single-task sort, so the band scan holds at corpus
    scale; the documented looser swap is GK sketch bounds
    (q_orders_approx_quantile pattern) when exactness is negotiable.
    """
    vecs = _vecs(spark, sf_dir)
    ranked = with_global_order(
        vecs.select("vec_id", "norm"), [F.asc("norm"), F.asc("vec_id")]
    )
    bounds = ranked.agg(
        F.max(
            F.when(F.col(GRN) == F.ceil(F.col(GN) * 0.01), F.col("norm"))
        ).alias("p01"),
        F.max(
            F.when(F.col(GRN) == F.ceil(F.col(GN) * 0.99), F.col("norm"))
        ).alias("p99"),
    )
    return (
        ranked.crossJoin(F.broadcast(bounds))
        .select(
            "vec_id",
            _trunc6(F.col("norm")).alias("norm"),
            (F.col("norm") < F.col("p01")).alias("is_low"),
            (F.col("norm") > F.col("p99")).alias("is_high"),
        )
        .where(F.col("is_low") | F.col("is_high"))
        .orderBy("vec_id")
    )


#: Product quantization geometry: 64 dims -> 4 subspaces x 16 dims,
#: 8 codewords per subspace (3 bits) => a 12-bit code per vector.
PQ_M = 4
PQ_SUBDIM = EMB_DIM // PQ_M
PQ_K = 8


def _pq_subs(vecs: DataFrame) -> DataFrame:
    """(vec_id, m, sub, xx): PQ subvectors with their squared norms.
    Row-local array slicing — no shuffle on a parallel scan.

    Widened here at the family's single entry point (round-12, per
    the r11 `widen_if_narrow` policy): every PQ consumer (ADC,
    rerank, recall, codebook stats, distortion curve) fans each
    vector out PQ_M x against a broadcast codebook, so a one-file
    local embeddings scan would run the whole encode single-task.
    The widen is a no-op whenever the scan already yields >= cores
    partitions — cluster plans are untouched.
    """
    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    vecs = widen_if_narrow(vecs, "vec_id")
    return vecs.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> struct(m AS m, "
                f"slice(v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS sub))"
            )
        ).alias("s"),
    ).select(
        "vec_id",
        F.col("s.m").alias("m"),
        F.col("s.sub").alias("sub"),
        F.expr(
            "aggregate(s.sub, 0.0d, (acc, x) -> acc + x * x)"
        ).alias("xx"),
    )


def _pq_adc_dists(vecs: DataFrame) -> DataFrame:
    """(probe_id, vec_id, d_exact): ADC distance of every probe to
    every encoded corpus vector — the shared core of the PQ serving
    queries (``sim_search_pq_adc`` ranks it; ``sim_search_pq_rerank``
    shortlists it and re-scores with exact L2)."""
    subs = _pq_subs(vecs)
    seeds = subs.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"),
        "m",
        F.col("sub").alias("csub"),
        F.col("xx").alias("cc"),
    )
    adc_dot = (
        "aggregate(zip_with(sub, csub, (x, y) -> x * y), "
        "0.0d, (acc, x) -> acc + x)"
    )
    codes = (
        subs.join(F.broadcast(seeds), "m")
        .withColumn(
            "dist",
            F.col("xx") + F.col("cc") - F.lit(2.0) * F.expr(adc_dot),
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "k")).alias("b"))
        .select("vec_id", "m", F.col("b.k").alias("code"))
    )
    lut = (
        subs.where(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"), "m", "sub", "xx"
        )
        .join(F.broadcast(seeds), "m")
        .select(
            "probe_id",
            "m",
            F.col("k").alias("code"),
            (
                F.col("xx") + F.col("cc") - F.lit(2.0) * F.expr(adc_dot)
            ).alias("pdist"),
        )
    )
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(
            F.sum(F.col("pdist").cast("decimal(38,12)")).alias("d_exact")
        )
    )


def sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (ADC) — the serving-side query
    that completes the PQ family (``embedding_pq_stats`` profiles the
    codebook, ``embedding_quantize`` compresses; this SEARCHES):
    probes stay full-precision, the corpus is reduced to its PQ codes,
    and each probe-to-vector distance is the sum over subspaces of a
    precomputed probe-to-codeword lookup table — the standard
    IVF-PQ/FAISS serving identity.

    Scale shape: the corpus contributes only its code table
    (n x PQ_M rows of small ints — the 32x-compressed index); the
    LUT is N_PROBES x PQ_M x PQ_K rows (320 — constant) and is
    BROADCAST into an equi-join on (m, code), so full-precision
    vectors are never shuffled and the corpus is touched once to
    encode. Ranking orders by the exact DECIMAL sum of LUT entries
    (order-independent, tie-broken on neighbor id), then emits the
    floored double.
    """
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("d_exact"), F.asc("vec_id")
    )
    return (
        _pq_adc_dists(vecs)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            (
                F.floor(F.col("d_exact").cast("double") * 1e6) / 1e6
            ).alias("adc_dist"),
        )
        .orderBy("probe_id", "rank")
    )


#: Two-stage serving shortlist: ADC keeps this many candidates per
#: probe before the exact-L2 rerank — the standard quality knob
#: (shortlist/k ≈ 6 here) every PQ deployment tunes.
RERANK_SHORTLIST = 30


def sim_search_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving: ADC shortlists RERANK_SHORTLIST
    candidates per probe from the compressed index, then ONLY those
    candidates are re-scored with exact L2 on full-precision vectors
    and cut to top-k — the universal refine step (FAISS
    IndexRefineFlat) that recovers most of the recall PQ loses while
    touching shortlist·k vectors instead of the corpus. Emits
    per-probe recall@k against the exact top-k, directly comparable
    to ``sim_search_pq_recall``'s unrefined number.

    Scale shape: stage 1 is the ADC code-join (corpus as small-int
    codes only); stage 2 joins the N_PROBES·SHORTLIST-row shortlist
    back to full vectors by key — an equi-join whose build side is
    constant-bounded, so full vectors still never shuffle; the
    recall eval is the same probe-bounded crossJoin-of-10 as every
    other eval operator.
    """
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    ws = Window.partitionBy("probe_id").orderBy(
        F.asc("d_exact"), F.asc("vec_id")
    )
    shortlist = (
        _pq_adc_dists(vecs)
        .withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= RERANK_SHORTLIST)
        .select("probe_id", "vec_id")
    )
    probes = vecs.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    nb = vecs.select(F.col("vec_id").alias("nb_id"), F.col("v").alias("nv"))
    d2 = _trunc6(
        F.expr(
            "aggregate(zip_with(pv, pv, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
        )
        + F.expr(
            "aggregate(zip_with(nv, nv, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
        )
        - 2
        * F.expr(
            "aggregate(zip_with(pv, nv, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
        )
    )
    wr = Window.partitionBy("probe_id").orderBy(F.asc("d2"), F.asc("nb_id"))
    reranked = (
        shortlist.join(F.broadcast(probes), "probe_id")
        .join(nb, shortlist.vec_id == nb.nb_id)
        .select("probe_id", "nb_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", F.col("nb_id").alias("neighbor_id"),
                F.lit(1).alias("hit"))
    )
    a, b = probes.alias("a"), vecs.alias("b")
    ed2 = _trunc6(
        F.expr(
            "aggregate(zip_with(a.pv, a.pv, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
        )
        + F.expr(
            "aggregate(zip_with(b.v, b.v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
        )
        - 2
        * F.expr(
            "aggregate(zip_with(a.pv, b.v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
        )
    )
    we = Window.partitionBy("probe_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    exact = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.probe_id") != F.col("b.vec_id"))
        .select(
            "probe_id",
            F.col("b.vec_id").alias("neighbor_id"),
            ed2.alias("d2"),
        )
        .withColumn("rank", F.row_number().over(we))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )
    return (
        exact.join(reranked, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("found"),
        )
        .select(
            "probe_id",
            "k",
            "found",
            (F.floor(F.col("found") * 1e6 / F.col("k")) / 1e6).alias(
                "recall"
            ),
        )
        .orderBy("probe_id")
    )


def sim_search_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ asymmetric-distance search against the exact
    EUCLIDEAN top-k (ADC approximates L2, so L2 is the honest
    baseline — not cosine) — the compression/recall operating point
    that justifies (or rejects) shipping the 32×-smaller PQ index.
    Same probe-bounded eval-join shape as ``sim_search_recall``.
    """
    approx = sim_search_pq_adc(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.lit(1).alias("hit")
    )
    vecs = _vecs(spark, sf_dir)
    probes = vecs.where(F.col("vec_id") < N_PROBES)
    a, b = probes.alias("a"), vecs.alias("b")
    vv = "aggregate(zip_with(a.v, a.v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
    bb = "aggregate(zip_with(b.v, b.v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
    d2 = _trunc6(F.expr(vv) + F.expr(bb) - 2 * F.expr(_DOT))
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    exact = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            d2.alias("d2"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )
    return (
        exact.join(approx, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("found"),
        )
        .select(
            "probe_id",
            "k",
            "found",
            (F.floor(F.col("found") * 1e6 / F.col("k")) / 1e6).alias(
                "recall"
            ),
        )
        .orderBy("probe_id")
    )


#: SQ8 scalar quantization: 256 levels per dimension over the
#: corpus-global [min, max] range — FAISS's SQ8 codec, the 4×
#: compression point between full floats and PQ.
SQ_LEVELS = 256

_SQ_DEQ = f"""
    transform(v, (x, i) ->
        st[i].mn
        + (least({SQ_LEVELS - 1}.0d, greatest(0.0d,
               floor((x - st[i].mn) / (st[i].mx - st[i].mn)
                     * {SQ_LEVELS}.0d)))
           + 0.5d) * (st[i].mx - st[i].mn) / {SQ_LEVELS}.0d)
"""

_FOLD_SELF = "aggregate(zip_with({c}, {c}, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
_FOLD_CROSS = (
    "aggregate(zip_with(a.v, q.vq, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
)


def sim_search_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of scalar-quantized (SQ8) search against the exact
    L2 top-k: every dimension is quantized to 256 levels over its
    corpus-global range, probes stay full-precision, and approximate
    distances use the dequantized (bin-center) corpus — FAISS's SQ8
    asymmetric search. The per-probe recall row is the accept/reject
    evidence for shipping the 4×-smaller index.

    Scale: the per-dim min/max rollup is 64 rows (partial-aggregated
    map-side, broadcast back), quantization is a row-local transform,
    and the eval join is probe-bounded exactly like
    :func:`sim_search_recall` — the corpus never self-joins and
    never shuffles; at 100 TB only the N_PROBES×corpus score scan
    remains, embarrassingly parallel.
    """
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    stats = (
        vecs.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("d", "mn", "mx"))
            ).alias("st")
        )
    )
    deq = vecs.crossJoin(F.broadcast(stats)).select(
        "vec_id", F.expr(_SQ_DEQ).alias("vq")
    )
    probes = vecs.where(F.col("vec_id") < N_PROBES)
    a, q = probes.alias("a"), deq.alias("q")
    d2a = _trunc6(
        F.expr(_FOLD_SELF.format(c="a.v"))
        + F.expr(_FOLD_SELF.format(c="q.vq"))
        - 2 * F.expr(_FOLD_CROSS)
    )
    wa = Window.partitionBy("probe_id").orderBy(
        F.asc("d2a"), F.asc("neighbor_id")
    )
    approx = (
        F.broadcast(a)
        .crossJoin(q)
        .where(F.col("a.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("q.vec_id").alias("neighbor_id"),
            d2a.alias("d2a"),
        )
        .withColumn("rank", F.row_number().over(wa))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    b = vecs.alias("b")
    vv = _FOLD_SELF.format(c="a.v")
    bb = _FOLD_SELF.format(c="b.v")
    d2 = _trunc6(F.expr(vv) + F.expr(bb) - 2 * F.expr(_DOT))
    we = Window.partitionBy("probe_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    exact = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            d2.alias("d2"),
        )
        .withColumn("rank", F.row_number().over(we))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id")
    )
    return (
        exact.join(approx, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("found"),
        )
        .select(
            "probe_id",
            "k",
            "found",
            (F.floor(F.col("found") * 1e6 / F.col("k")) / 1e6).alias(
                "recall"
            ),
        )
        .orderBy("probe_id")
    )


def _cov_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance (i <= j) of the embedding
    dimensions as (i, j, cov double), materialized once
    (``localCheckpoint``) for reuse. Pair terms come from a row-local
    double posexplode — no corpus self-join — and partially aggregate
    to d^2/2 keys before the shuffle; sums are DECIMAL(38,18) exact.
    Widened if the scan is a single small file (round-11): the d²/2
    explode is the per-row compute-heavy stage here."""
    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    emb = widen_if_narrow(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    )
    # Dimension marginals once (64 rows) — NOT recomputed per pair:
    # the pair shuffle below carries only the product sum, a third of
    # the aggregation state of the naive three-sum formulation.
    dims = (
        emb.select(F.posexplode("embedding").alias("d", "vf"))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("vf").cast("double").cast("decimal(38,18)")).alias(
                "s"
            ),
        )
    )
    e1 = emb.select(
        F.posexplode("embedding").alias("i", "vif"), "embedding"
    )
    e2 = (
        e1.select(
            "i",
            F.col("vif").cast("double").alias("vi"),
            F.posexplode("embedding").alias("j", "vjf"),
        )
        .where(F.col("j") >= F.col("i"))
        .select("i", "j", (F.col("vi") * F.col("vjf").cast("double")).alias("vij"))
    )
    sums = e2.groupBy("i", "j").agg(
        F.sum(F.col("vij").cast("decimal(38,18)")).alias("sij"),
    )
    di = dims.select(
        F.col("d").alias("i"), F.col("n"), F.col("s").alias("si")
    )
    dj = dims.select(F.col("d").alias("j"), F.col("s").alias("sj"))
    n = F.col("n").cast("double")
    cov = (
        F.col("sij").cast("double")
        - F.col("si").cast("double") * F.col("sj").cast("double") / n
    ) / (n - F.lit(1.0))
    return (
        sums.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select("i", "j", cov.alias("cov"))
        .localCheckpoint()
    )


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance + correlation of the embedding
    dimensions — the PCA/whitening precursor every embedding-space
    health check starts from (correlated dimensions waste index
    capacity; near-rank-deficiency shows up as |corr| ~ 1 rows).

    Scale shape: the d^2/2 pair terms are generated ROW-LOCALLY by a
    double posexplode (no self-join of the corpus, unlike the DuckDB
    twin) and partially aggregated before the shuffle, so shuffle
    volume is O(partitions x d^2) — independent of corpus size. Sums
    go through DECIMAL(38,18) (exact, order-independent) and the
    covariance/correlation arithmetic is one mirrored IEEE double
    expression. Output is d(d+1)/2 = 2080 rows at d = 64.
    """
    covs = _cov_upper(spark, sf_dir)
    var = covs.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("cov").alias("v")
    )
    vi = var.select(F.col("d").alias("i"), F.col("v").alias("var_i"))
    vj = var.select(F.col("d").alias("j"), F.col("v").alias("var_j"))
    return (
        covs.join(F.broadcast(vi), "i")
        .join(F.broadcast(vj), "j")
        .select(
            "i",
            "j",
            (F.floor(F.col("cov") * 1e6) / 1e6).alias("cov"),
            (
                F.floor(
                    F.try_divide(
                        F.col("cov"),
                        F.sqrt(F.col("var_i") * F.col("var_j")),
                    )
                    * 1e6
                )
                / 1e6
            ).alias("corr"),
        )
        .orderBy("i", "j")
    )


def embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EFFECTIVE RANK of the embedding space by participation ratio
    (round-13): PR = (Σλ)² / Σλ² over the covariance eigenvalues —
    computed WITHOUT any eigendecomposition via the exact identities
    Σλ = trace(C) and Σλ² = ‖C‖²_F = Σᵢⱼ Cᵢⱼ². PR ranges 1 (all
    variance on one axis — total collapse) to d (isotropic); it is
    the single-number representation-collapse diagnostic read next
    to ``embedding_anisotropy`` (mean-offset axis) and
    ``embedding_intrinsic_dim`` (manifold DoF): PR ≪ d says
    truncation/whitening is overdue before index capacity is wasted.

    Scale shape: reuses the one corpus covariance pass
    (``_cov_upper``: row-local d²/2 posexplode, partial-agg,
    shuffle O(partitions·d²)); this op adds only a 2080-row
    aggregate on top. cov² products are IEEE doubles cast to
    DECIMAL(38,18) before the SUM (exact, order-independent — the
    pca_power norm recipe), off-diagonal terms counted twice via
    the upper-triangle weight.

    Reference parity: single-statement aggregate health checks over
    staged tables (reference airflow/dags/reviews_ETL.py:93-198) —
    here the staged table is the covariance frame.
    """
    covs = _cov_upper(spark, sf_dir)
    diag = F.col("i") == F.col("j")
    agg = covs.agg(
        F.count(F.when(diag, 1)).cast("int").alias("d"),
        F.sum(F.when(diag, F.col("cov")).cast("decimal(38,18)"))
        .cast("double")
        .alias("tr"),
        F.sum(
            (
                F.when(diag, F.lit(1.0)).otherwise(F.lit(2.0))
                * F.col("cov")
                * F.col("cov")
            ).cast("decimal(38,18)")
        )
        .cast("double")
        .alias("fr"),
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return agg.select(
        "d",
        f6(F.col("tr")).alias("trace_var"),
        f6(F.col("fr")).alias("frob_sq"),
        f6(F.col("tr") * F.col("tr") / F.col("fr")).alias(
            "participation_ratio"
        ),
        f6(
            F.col("tr") * F.col("tr") / F.col("fr") / F.col("d")
        ).alias("pr_over_d"),
    )


#: Fixed power-iteration count for the PCA dominant component —
#: fixed (not iterate-to-epsilon) so the DuckDB twin can unroll the
#: same iterations as a generated CTE chain, the PageRank-oracle
#: trick. 8 rounds is plenty for a dominant/second eigengap on these
#: covariances; the estimate is emitted with its own convergence
#: residual so the answer is honest about remaining error.
PCA_POWER_ITERS = 8


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding space by
    distributed power iteration over the covariance matrix — the
    first step of PCA/whitening, run the way it must be run when d
    is too large to collect (at d = 4096 the covariance is 16M
    entries; here d = 64 exercises the same plan).

    Per round: one equi-join of the (i, j, cov) matrix frame with
    the current d-row vector on j, a partial-aggregatable
    DECIMAL(38,18) sum per i (the mat-vec), then normalization by a
    one-row aggregate kept in-plan via scalar cross-broadcast. The
    matrix frame is ``localCheckpoint``ed once and reused every
    round. Normalizing every round keeps magnitudes at 1, so the
    decimal sums never overflow and the final round's norm IS the
    eigenvalue estimate (||C v|| for unit v -> lambda).

    Determinism: the all-equal start vector (1/8 — dyadic-exact at
    d = 64), mat-vec sums in exact decimal, normalization in
    mirrored IEEE doubles — both engines walk the identical orbit,
    so even the eigenvector SIGN matches without a convention.
    Output: one row per dimension with the loading, the eigenvalue
    estimate, and the Rayleigh residual ||Cv - lambda*v||.
    """
    covs = _cov_upper(spark, sf_dir)
    cmat = covs.unionAll(
        covs.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    ).localCheckpoint()
    dims = cmat.select("i").distinct()
    v = dims.select("i", F.lit(0.125).alias("val"))  # 1/sqrt(64)
    lam = None
    for _ in range(PCA_POWER_ITERS):
        # localCheckpoint per round: w is referenced twice (norm agg
        # + normalize), so an unanchored lineage would DOUBLE the
        # plan subtree every round — 2^8 replicas of the covariance
        # job. The checkpoint is 64 rows.
        w = (
            cmat.join(v.select(F.col("i").alias("j"), "val"), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    (F.col("cov") * F.col("val")).cast("decimal(38,18)")
                )
                .cast("double")
                .alias("wval")
            )
            .localCheckpoint()
        )
        nrm = w.agg(
            F.sqrt(
                F.sum((F.col("wval") * F.col("wval")).cast("decimal(38,18)"))
                .cast("double")
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            "i", (F.col("wval") / F.col("nrm")).alias("val")
        )
        lam = nrm
    # residual: one more mat-vec against the final unit vector
    w9 = (
        cmat.join(v.select(F.col("i").alias("j"), "val"), "j")
        .groupBy("i")
        .agg(
            F.sum((F.col("cov") * F.col("val")).cast("decimal(38,18)"))
            .cast("double")
            .alias("cv")
        )
    )
    res = (
        w9.join(v, "i")
        .crossJoin(F.broadcast(lam.select(F.col("nrm").alias("lam"))))
        .agg(
            F.sqrt(
                F.sum(
                    (
                        (F.col("cv") - F.col("lam") * F.col("val"))
                        * (F.col("cv") - F.col("lam") * F.col("val"))
                    ).cast("decimal(38,18)")
                ).cast("double")
            ).alias("residual")
        )
    )
    return (
        v.crossJoin(F.broadcast(lam.select(F.col("nrm").alias("lam"))))
        .crossJoin(F.broadcast(res))
        .select(
            F.col("i").alias("pos"),
            (F.floor(F.col("val") * 1e6) / 1e6).alias("loading"),
            (F.floor(F.col("lam") * 1e6) / 1e6).alias("eigenvalue"),
            (F.floor(F.col("residual") * 1e6) / 1e6).alias("residual"),
        )
        .orderBy("pos")
    )


def embedding_pq_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook profile: per (subspace, code),
    how many vectors land there and their mean quantization distance
    — the compression/recall planning table an ANN index build reads
    (empty or overloaded codes mean a bad codebook).

    PQ splits each vector into PQ_M subvectors and snaps each to its
    nearest of PQ_K codewords (here: the first PQ_K corpus vectors'
    subvectors — deterministic stand-ins for trained sub-k-means
    centroids, same convention as sim_search_ivf's quantizer).

    Scale/determinism shape: the codebook is a PQ_M x PQ_K-row
    broadcast; assignment is an equi-join on subspace + a
    min(struct(dist, code)) aggregate — no UDF, no shuffle of the
    corpus beyond the final 32-group rollup. Distances use the
    ||x||^2 + ||c||^2 - 2x.c identity with sequential aggregate()
    folds (bit-matching DuckDB's list_dot_product), and the group
    mean goes through an exact DECIMAL(38,12) sum.
    """
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    subs = _pq_subs(vecs)
    seeds = subs.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"),
        "m",
        F.col("sub").alias("csub"),
        F.col("xx").alias("cc"),
    )
    pairs = subs.join(F.broadcast(seeds), "m").withColumn(
        "dist",
        F.col("xx")
        + F.col("cc")
        - F.lit(2.0)
        * F.expr(
            "aggregate(zip_with(sub, csub, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)"
        ),
    )
    best = (
        pairs.groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "k")).alias("b"))
        .select("m", F.col("b.k").alias("code"), F.col("b.dist").alias("dist"))
    )
    return (
        best.groupBy(F.col("m").alias("subspace"), "code")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.floor(
                    F.sum(F.col("dist").cast("decimal(38,12)"))
                    .cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("avg_qdist"),
        )
        .orderBy("subspace", "code")
    )


#: PQ distortion curve: subquantizer counts to sweep (code size per
#: vector = M bytes at K=256; here K=PQ_K stays fixed so the sweep
#: isolates the M axis).
PQ_CURVE_MS = (2, 4, 8)


def embedding_pq_distortion_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compression/quality tradeoff for product quantization: total
    reconstruction error (Σ over vectors and subspaces of the
    squared distance to the assigned codeword) at M ∈ {2, 4, 8}
    subquantizers — the planning curve every PQ deployment reads
    before fixing its code size (more subquantizers → finer grid →
    monotonically lower distortion, bigger codes).

    Scale shape: per M one row-local sub-split, one broadcast
    codebook equi-join on the subspace key, one min-struct rollup
    and one exact DECIMAL sum — the corpus is scanned once per M
    (constant fan-out), nothing quadratic; results for the 3 Ms
    union into one 3-row frame.
    """
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    outs = []
    for m_q in PQ_CURVE_MS:
        subdim = EMB_DIM // m_q
        subs = vecs.select(
            "vec_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {m_q - 1}), m -> struct(m AS m, "
                    f"slice(v, m * {subdim} + 1, {subdim}) AS sub))"
                )
            ).alias("s"),
        ).select(
            "vec_id",
            F.col("s.m").alias("m"),
            F.col("s.sub").alias("sub"),
            F.expr(
                "aggregate(s.sub, 0.0d, (acc, x) -> acc + x * x)"
            ).alias("xx"),
        )
        seeds = subs.where(F.col("vec_id") < PQ_K).select(
            F.col("vec_id").alias("k"),
            "m",
            F.col("sub").alias("csub"),
            F.col("xx").alias("cc"),
        )
        pairs = subs.join(F.broadcast(seeds), "m").withColumn(
            "dist",
            F.col("xx")
            + F.col("cc")
            - F.lit(2.0)
            * F.expr(
                "aggregate(zip_with(sub, csub, (x, y) -> x * y), "
                "0.0d, (acc, x) -> acc + x)"
            ),
        )
        best = pairs.groupBy("vec_id", "m").agg(
            F.min(F.struct("dist", "k")).alias("b")
        )
        outs.append(
            best.agg(
                F.countDistinct("vec_id").cast("bigint").alias("n_vectors"),
                (
                    F.floor(
                        F.sum(
                            F.greatest(F.col("b.dist"), F.lit(0.0)).cast(
                                "decimal(38,12)"
                            )
                        ).cast("double")
                        * F.lit(1e6)
                    )
                    / F.lit(1e6)
                ).alias("total_distortion"),
            ).select(
                F.lit(m_q).alias("m_subquantizers"),
                F.lit(subdim).alias("subdim"),
                "n_vectors",
                "total_distortion",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("m_subquantizers")


#: Hybrid retrieval: RRF constant, per-modality candidate pool,
#: fused output size, keyword and vector probe identities.
RRF_K = 60
RRF_POOL = 100
RRF_TOP = 20
RRF_KEYWORD = "vector"
RRF_PROBE_ID = 0


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank
    Fusion (Cormack et al.): keyword channel ranks documents by the
    probe term's tf, vector channel ranks by cosine to a probe
    embedding; fused score Σ 1/(RRF_K + rank) over the channels a
    doc appears in — the standard RAG retrieval stack shape.

    Scale shape: each channel reduces to a bounded RRF_POOL
    candidate list via TakeOrderedAndProject (no global sort of the
    corpus); rank assignment and the full-outer fuse then run on
    ≤2·RRF_POOL rows — driver-independent, constant-size work
    regardless of corpus scale. The keyword tf is a row-local array
    filter; the cosine fold broadcasts the single probe vector.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kw_tf = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.trim(F.lower("text")), r"\s+"),
                lambda t: t == F.lit(RRF_KEYWORD),
            )
        ).alias("kw_tf"),
    ).where(F.col("kw_tf") > 0)
    kw_pool = kw_tf.orderBy(F.desc("kw_tf"), F.asc("doc_id")).limit(
        RRF_POOL
    )
    w_kw = Window.orderBy(F.desc("kw_tf"), F.asc("doc_id"))
    kw_ranked = kw_pool.select(
        "doc_id", F.row_number().over(w_kw).alias("kw_rank")
    )

    vecs = _vecs(spark, sf_dir)
    probe = vecs.where(F.col("vec_id") == RRF_PROBE_ID).select(
        F.col("v").alias("pv"), F.col("norm").alias("pnorm")
    )
    cos = _trunc6(
        F.expr(
            "aggregate(zip_with(v, pv, (x, y) -> x * y),"
            " 0.0d, (s, x) -> s + x)"
        )
        / (F.col("norm") * F.col("pnorm"))
    )
    vec_pool = (
        vecs.crossJoin(F.broadcast(probe))
        .where(F.col("vec_id") != RRF_PROBE_ID)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(RRF_POOL)
    )
    w_vec = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    vec_ranked = vec_pool.select(
        "doc_id", F.row_number().over(w_vec).alias("vec_rank")
    )

    fused = kw_ranked.join(vec_ranked, "doc_id", "full").select(
        "doc_id",
        "kw_rank",
        "vec_rank",
        _trunc6(
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("kw_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOP)


def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch audit: project 64-d embeddings
    to 16-d with the SAME deterministic ±1 hyperplane matrix the LSH
    family uses (scaled 1/√16 — a Rademacher JL map), then report
    the pairwise-distance distortion over the probe set. The
    dimensionality-reduction sanity check run before shipping a
    cheaper index: ratios near 1 mean the sketch preserves geometry.

    Scale shape: the projection is one row-local ``transform`` fold
    per vector (engine-side, no Python); distortion pairs are the
    bounded probe set only (broadcast self-join, never corpus²).
    Distances use the ‖a‖²+‖b‖²−2a·b identity with sequential folds
    so Spark and DuckDB's list_dot_product agree bit-for-bit.
    """
    planes = plane_signs()
    planes_sql = ",".join(
        "array(" + ",".join(str(x) for x in row) + ")" for row in planes
    )
    vecs = _vecs(spark, sf_dir).where(F.col("vec_id") < N_PROBES)
    proj = vecs.select(
        "vec_id",
        "v",
        F.expr(
            f"""
            transform(sequence(0, {N_PLANES - 1}), p ->
                aggregate(
                    zip_with(array({planes_sql})[p], v, (c, x) -> c * x),
                    0.0d, (s, x) -> s + x
                ) / sqrt({N_PLANES}.0d))
            """
        ).alias("pv"),
    )
    a, b = proj.alias("a"), proj.alias("b")
    dot = lambda x, y: F.expr(  # noqa: E731
        f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0.0d, (s, x) -> s + x)"
    )
    d_orig = F.sqrt(
        F.greatest(
            F.lit(0.0),
            dot("a.v", "a.v") + dot("b.v", "b.v") - 2 * dot("a.v", "b.v"),
        )
    )
    d_proj = F.sqrt(
        F.greatest(
            F.lit(0.0),
            dot("a.pv", "a.pv")
            + dot("b.pv", "b.pv")
            - 2 * dot("a.pv", "b.pv"),
        )
    )
    return (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            _trunc6(d_orig).alias("dist_orig"),
            _trunc6(d_proj).alias("dist_proj"),
            _trunc6(d_proj / d_orig).alias("distortion"),
        )
        .orderBy("a", "b")
    )


def embedding_sign_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization recall audit: each 64-d vector
    collapses to a 64-bit sign code (two 32-bit halves — no 2^63
    overflow on either engine), candidates rank by Hamming distance
    (engine-side bit_count(xor)), and the report is per-probe
    recall@k of the Hamming top-k against the exact cosine top-k —
    the binary-embedding memory/recall tradeoff (64× smaller index)
    every large retrieval deployment evaluates.

    Scale shape: codes are one row-local fold per vector; the
    probe×corpus Hamming scan broadcasts the bounded probe codes
    (two ints per probe) against the corpus code table — the corpus'
    full-precision floats never move; ranking is a per-probe window
    over the probe key.
    """
    half = lambda lo, hi: F.expr(  # noqa: E731
        f"""
        aggregate(sequence({lo}, {hi}), cast(0 as bigint), (acc, d) ->
            acc + CASE WHEN element_at(v, d + 1) > 0
                  THEN cast(pow(2, d - {lo}) as bigint) ELSE 0 END)
        """
    )
    vecs = _vecs(spark, sf_dir)
    codes = vecs.select(
        "vec_id",
        half(0, 31).alias("code_lo"),
        half(32, 63).alias("code_hi"),
    ).localCheckpoint()
    probes = codes.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("code_lo").alias("plo"),
        F.col("code_hi").alias("phi"),
    )
    hamming = (
        F.bit_count(F.col("code_lo").bitwiseXOR(F.col("plo")))
        + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("phi")))
    ).alias("hamming")
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    approx = (
        F.broadcast(probes)
        .crossJoin(codes)
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", F.col("vec_id").alias("neighbor_id"), hamming
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    exact = sim_search_bruteforce(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    return (
        exact.join(approx, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("found"),
        )
        .select(
            "probe_id",
            "k",
            "found",
            (F.floor(F.col("found") * 1e6 / F.col("k")) / 1e6).alias(
                "recall"
            ),
        )
        .orderBy("probe_id")
    )


def embedding_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the LSH-kNN graph: build EVERY vector's
    approximate top-k neighbor list (bucket-bounded candidates, the
    dedup_embedding_cosine recipe — never all-pairs), then histogram
    the IN-degree. High-dimensional spaces grow "hubs" that appear
    in everyone's neighbor list and silently dominate retrieval /
    kNN-label pipelines — the k-occurrence skew (Radovanović et al.)
    is the standard diagnostic.

    Scale shape: candidates from the (table, bucket) equi-join only,
    with corpus-adaptive bits per table (bucket occupancy — hence the
    candidate frame — stays ~linear as the corpus grows); per-source
    top-k via a window over the candidate set; in-degree is one
    partial-aggregatable count; the output is a bounded histogram
    (in-degree ≤ corpus, binned exactly).
    """
    buckets = _adaptive_buckets(spark, sf_dir)
    a, b = buckets.alias("a"), buckets.alias("b")
    cosine = _trunc6(
        F.expr(_DOT) / (F.col("a.norm") * F.col("b.norm"))
    ).alias("cosine")
    w = Window.partitionBy("src").orderBy(
        F.desc("cosine"), F.asc("dst")
    )
    knn = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            cosine,
        )
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )
    indeg = knn.groupBy(F.col("dst").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_degree")
    )
    return (
        indeg.groupBy("in_degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("in_degree")
    )


def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy score of the embedding space: λ_max·d / trace(C)
    (1 = isotropic, d = all variance on one axis) plus the top-PC
    variance share — the "embedding collapse" health check (the
    anisotropy problem: contextual embeddings cram into a narrow
    cone, wrecking cosine contrast). Composes the existing pieces:
    λ_max from the distributed power iteration, trace from the
    covariance diagonal — one extra 64-row aggregate each.
    """
    lam = embedding_pca_power(spark, sf_dir).agg(
        F.max("eigenvalue").alias("lam")
    )
    trace = (
        _cov_upper(spark, sf_dir)
        .where(F.col("i") == F.col("j"))
        .agg(
            F.sum(F.col("cov").cast("decimal(38,18)"))
            .cast("double")
            .alias("trace")
        )
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return lam.crossJoin(F.broadcast(trace)).select(
        F.lit(EMB_DIM).alias("d"),
        f6(F.col("trace")).alias("trace"),
        F.col("lam").alias("lambda_max"),
        f6(F.col("lam") / F.col("trace")).alias("top_pc_share"),
        f6(F.col("lam") * EMB_DIM / F.col("trace")).alias("anisotropy"),
    )


#: HNSW-lite graph-ANN parameters (round-14). The graph is a
#: deterministic bounded-degree NSW-style neighbor graph: md5-seeded
#: insertion order, candidates from (a) wide LSH buckets (graph-
#: specific target population GRAPH_TARGET_BUCKET via the integer
#: adaptive-bits rule), (b) the ≤HNSW_HUB_CAP earliest-inserted
#: members of each IVF coarse cell, (c) the insertion-order
#: predecessor (connectivity backbone) — each restricted to
#: already-inserted peers (smaller rank), the NSW mechanism that
#: turns early-inserted nodes into long-range hubs. One NN-descent
#: refinement round (neighbors-of-neighbors, re-top-M) then
#: symmetrize. Search is best-first beam search: per hop expand the
#: HNSW_EXPAND best not-yet-expanded beam nodes, keep the HNSW_BEAM
#: best scored nodes, answer from ALL visited nodes (their distance
#: evals are already paid — the HNSW result-queue semantics).
GRAPH_TARGET_BUCKET = 128
HNSW_M = 12
HNSW_HUB_CAP = 128
#: NN-descent expands 2-hop candidates only through each node's
#: HNSW_DESCENT_T BEST current neighbors (the Vamana/DiskANN bounded
#: expansion): the full deg² frontier read α 0.91 at the sf10 decade
#: (the build's largest constant, ~576 candidates/node); the T=6 cut
#: measured 3× fewer descent candidates with recall unchanged at
#: both driver SFs (1.000 / 0.980).
HNSW_DESCENT_T = 6
HNSW_BEAM = 8
HNSW_HOPS = 4
HNSW_EXPAND = 2
HNSW_ENTRIES = 4
HNSW_BEAM_WIDTHS = (2, 8, 32)


def adaptive_graph_bits(n_vecs: int) -> int:
    """Bits per LSH table for GRAPH-BUILD candidate buckets: smallest
    b with GRAPH_TARGET_BUCKET · 2^b ≥ n. The graph build wants
    RICHER buckets than the dedup candidate join (target 128 vs 32):
    the per-node cost is capped by the hub rule anyway, and the
    wider pool is what lifts kNN-graph quality (measured: 6-bit
    buckets at n=2000 covered only 14% of true top-5; 4-bit covered
    enough for a 0.98+ direct-neighbor graph after NN-descent).
    Same pure-integer rule both engines evaluate identically."""
    for b in range(BITS_PER_TABLE, DEDUP_MAX_BITS + 1):
        if GRAPH_TARGET_BUCKET * (1 << b) >= n_vecs:
            return b
    return DEDUP_MAX_BITS


def _hnsw_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frame (vec_id, v, norm, rn) with the md5-seeded
    insertion rank — the deterministic stand-in for HNSW's random
    insertion order. Two-pass range-partitioned global row_number
    (ranking.with_global_order), never a single-task window."""
    vecs = _vecs(spark, sf_dir).withColumn(
        "md5r",
        F.md5(F.concat(F.lit("hnsw_"), F.col("vec_id").cast("string"))),
    )
    ranked = with_global_order(vecs, [F.col("md5r"), F.col("vec_id")])
    return ranked.select("vec_id", "v", "norm", F.col(GRN).alias("rn"))


def _hnsw_cos6(lv: str, ln: str, rv: str, rn_: str) -> Column:
    return _trunc6(
        F.expr(
            f"aggregate(zip_with({lv}, {rv}, (x, y) -> x * y),"
            " 0.0d, (s, x) -> s + x)"
        )
        / (F.col(ln) * F.col(rn_))
    )


#: Memoized per sf_dir in the shared session memo — the build is the
#: expensive one-time index step shared by the hnsw query op and the
#: recall sweep (bench.py restores the shared memo to its per-query
#: first-rep state between reps, the round-10 cold-memo protocol, so
#: standing rows still price the real build).
@session_memoized
def _hnsw_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Build the NSW adjacency; returns (adj(src, dst), ranked).

    100-TB story: every candidate source is bounded — LSH buckets by
    the adaptive-bits rule (population ~GRAPH_TARGET_BUCKET), cell
    candidates by the HNSW_HUB_CAP earliest-inserted hub rule (at
    production scale the coarse-cell count also grows with the
    corpus, as for any IVF index), the chain is 1 edge/node, and the
    NN-descent round joins frames whose per-node width is capped by
    the symmetrized degree ≤ 2·HNSW_M — so the edge-candidate frame
    is O(n · bounded constant), equi-join-generated, never
    all-pairs. The built index is a plain (src, dst) edge table: at
    cluster scale it partitions by src and the per-hop expansion is
    an equi-join on it (sharded-graph serving: each shard holds a
    src-range plus its out-edges; beams route by node id).
    """
    ranked = _hnsw_ranked(spark, sf_dir).localCheckpoint()
    bits = adaptive_graph_bits(table_row_count(sf_dir, "embeddings"))
    sig = ranked.withColumn("sig", _signature("v", DEDUP_SIG_PLANES))
    gbuckets = (
        sig.select(
            "vec_id",
            "rn",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {LSH_TABLES - 1}), t ->"
                    " struct(t AS tbl, (sig div cast(pow(2, t *"
                    f" {bits}) as bigint)) % {1 << bits}L AS bucket))"
                )
            ).alias("tb"),
        )
        .select(
            "vec_id",
            "rn",
            F.col("tb.tbl").alias("tbl"),
            F.col("tb.bucket").alias("bucket"),
        )
    )
    homes = (
        _ivf_assigned(spark, sf_dir)
        .select("vec_id", F.element_at("ranked", 1).alias("cell"))
        .join(ranked.select("vec_id", "rn"), "vec_id")
    )

    def hub_pairs(df: DataFrame, keys: list[str]) -> DataFrame:
        # Each member pairs with the ≤HNSW_HUB_CAP earliest-inserted
        # (smallest-rank) members of its group that precede it — the
        # bounded NSW "already inserted" candidate set.
        wh = Window.partitionBy(*keys).orderBy("rn")
        hubs = (
            df.withColumn("hrank", F.row_number().over(wh))
            .where(F.col("hrank") <= HNSW_HUB_CAP)
            .select(
                *keys,
                F.col("vec_id").alias("dst"),
                F.col("rn").alias("drn"),
            )
        )
        return (
            df.join(hubs, keys)
            .where(F.col("drn") < F.col("rn"))
            .select(F.col("vec_id").alias("src"), "dst")
        )

    chain = (
        ranked.alias("a")
        .join(ranked.alias("b"), F.col("a.rn") == F.col("b.rn") + 1)
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
    )
    cand0 = (
        hub_pairs(gbuckets, ["tbl", "bucket"])
        .union(hub_pairs(homes, ["cell"]))
        .union(chain)
        .distinct()
    )

    def top_m(pairs: DataFrame, m: int = HNSW_M) -> DataFrame:
        scored = (
            pairs.join(
                ranked.select(
                    F.col("vec_id").alias("src"),
                    F.col("v").alias("sv"),
                    F.col("norm").alias("sn"),
                ),
                "src",
            )
            .join(
                ranked.select(
                    F.col("vec_id").alias("dst"),
                    F.col("v").alias("dv"),
                    F.col("norm").alias("dn"),
                ),
                "dst",
            )
            .withColumn("c6", _hnsw_cos6("sv", "sn", "dv", "dn"))
        )
        wm = Window.partitionBy("src").orderBy(F.desc("c6"), F.asc("dst"))
        return (
            scored.withColumn("mr", F.row_number().over(wm))
            .where(F.col("mr") <= m)
            .select("src", "dst")
        )

    out0 = top_m(cand0)
    und0 = (
        out0.union(
            out0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()  # degree-capped edge frame, referenced 3×
    )
    # Bounded NN-descent: expand 2-hop only through each node's
    # HNSW_DESCENT_T best current neighbors, keeping the candidate
    # frame O(n · deg · T) instead of O(n · deg²).
    exp_edges = top_m(und0, HNSW_DESCENT_T)
    two_hop = (
        exp_edges.alias("e1")
        .join(und0.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .where(F.col("e1.src") != F.col("e2.dst"))
        .select(
            F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst")
        )
    )
    out1 = top_m(und0.union(two_hop).distinct())
    adj = (
        out1.union(
            out1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()  # final index, probed once per hop
    )
    return adj, ranked


def _hnsw_search(
    ranked: DataFrame, adj: DataFrame, beam_widths: tuple[int, ...]
) -> DataFrame:
    """Best-first beam search, ALL requested beam widths batched into
    one pass; returns every visited scored node (bw, probe_id, node,
    c6). The per-hop state is keyed (bw, probe_id) and every window
    partitions on that pair, so each width's trajectory is exactly
    the independent single-width search — but the width sweep shares
    each hop's job (the hop cost here is fixed stage overhead, not
    data; batching measured ~3× faster than sequential sweeps).

    Every per-hop frame is probe-bounded (≤ #widths · N_PROBES ·
    (beam + expand·degree) rows) and broadcast; the only corpus-
    scale work per hop is the equi-join of the expansion set against
    the adjacency table — which at cluster scale routes by src
    partition (sharded-graph serving)."""
    probes = ranked.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("norm").alias("pn"),
    )
    widths = F.explode(
        F.array(*[F.lit(int(b)) for b in beam_widths])
    ).alias("bw")
    entries = ranked.where(F.col("rn") <= HNSW_ENTRIES).select(
        F.col("vec_id").alias("node")
    )
    cand0 = (
        probes.select("probe_id")
        .crossJoin(entries)  # ≤ N_PROBES × HNSW_ENTRIES rows
        .union(probes.select("probe_id", F.col("probe_id").alias("node")))
        .distinct()
        .select(widths, "probe_id", "node")
    )

    def score(nodes: DataFrame) -> DataFrame:
        # (bw, probe, node) sets are probe-bounded — broadcast them
        # against the corpus frame so scoring is one map-side stage,
        # never a shuffle of `ranked`.
        return (
            ranked.select(
                F.col("vec_id").alias("node"),
                F.col("v").alias("nv"),
                F.col("norm").alias("nn"),
            )
            .join(
                F.broadcast(nodes.join(F.broadcast(probes), "probe_id")),
                "node",
            )
            .withColumn("c6", _hnsw_cos6("pv", "pn", "nv", "nn"))
            .select("bw", "probe_id", "node", "c6")
        )

    wb = Window.partitionBy("bw", "probe_id").orderBy(
        F.desc("c6"), F.asc("node")
    )
    # Single per-hop state frame (bw, probe_id, node, c6, exp): the
    # beam with its already-expanded flag. ONE eager cut per hop —
    # with separate beam/expanded/scored frames each hop's job
    # re-executed the earlier hops' windows and joins (measured 2×
    # slower), and a checkpoint per derived frame paid a job each.
    state = (
        score(cand0)
        .withColumn("br", F.row_number().over(wb))
        .where(F.col("br") <= F.col("bw"))
        .drop("br")
        .withColumn("exp", F.lit(False))
        .localCheckpoint()
    )
    seen = state.select("bw", "probe_id", "node", "c6")
    for _ in range(HNSW_HOPS):
        todo = (
            state.where(~F.col("exp"))
            .withColumn("tr", F.row_number().over(wb))
            .where(F.col("tr") <= HNSW_EXPAND)
            .select("bw", "probe_id", "node")
        )
        fresh = (
            adj.join(F.broadcast(todo), todo.node == adj.src)
            .select("bw", "probe_id", F.col("dst").alias("node"))
            .distinct()
            .join(
                F.broadcast(
                    state.select(
                        "bw", "probe_id", "node", F.lit(1).alias("known")
                    )
                ),
                ["bw", "probe_id", "node"],
                "left",
            )
            .where(F.col("known").isNull())
            .select("bw", "probe_id", "node")
        )
        cand = state.select("bw", "probe_id", "node", "c6").union(
            score(fresh)
        )
        exp_next = (
            state.where("exp")
            .select("bw", "probe_id", "node")
            .union(todo)
            .withColumn("e", F.lit(True))
        )
        state = (
            cand.withColumn("br", F.row_number().over(wb))
            .where(F.col("br") <= F.col("bw"))
            .drop("br")
            .join(
                F.broadcast(exp_next), ["bw", "probe_id", "node"], "left"
            )
            .withColumn("exp", F.coalesce("e", F.lit(False)))
            .select("bw", "probe_id", "node", "c6", "exp")
            .localCheckpoint()
        )
        seen = seen.union(cand)
    return seen.distinct()


def sim_search_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 per probe via an HNSW-LITE navigable-small-world
    graph — the graph-index family (HNSW/NSW/Vamana) that most
    vector stores default to, re-expressed as deterministic bounded
    DataFrame ops (see `_hnsw_graph` for the build and the 100-TB
    sharded-graph story, `_hnsw_search` for the best-first beam).

    Measured at the standing config (M=12, beam=8, 4 hops, expand 2):
    recall@5 = 0.98 touching ~101 nodes/probe at sf0.01 vs IVF
    nprobe=4's 0.92 @ 122, and 1.00 @ ~109 at sf0.1 vs IVF's
    0.98 @ 123 (nprobe=1) — better recall at a smaller distance-eval
    budget than the repo's IVF operating points.
    """
    adj, ranked = _hnsw_graph(spark, sf_dir)
    seen = _hnsw_search(ranked, adj, (HNSW_BEAM,)).drop("bw")
    wk = Window.partitionBy("probe_id").orderBy(
        F.desc("c6"), F.asc("node")
    )
    return (
        seen.where(F.col("node") != F.col("probe_id"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= TOP_K)
        .select(
            "probe_id",
            F.col("node").alias("neighbor_id"),
            F.col("c6").alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("probe_id", "rank")
    )


def sim_search_hnsw_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-budget row for the graph index, BEAM WIDTH as the
    knob: for each width in HNSW_BEAM_WIDTHS, mean recall@5 of the
    beam-search answer against the exact brute-force top-5, plus the
    mean distance-eval budget actually spent (distinct nodes scored
    per probe) — the curve a deployment reads to pick its operating
    point, next to `sim_search_ivf_nprobe_curve` for the IVF side.
    The graph is built once and shared across the width sweep."""
    adj, ranked = _hnsw_graph(spark, sf_dir)
    exact = sim_search_bruteforce(spark, sf_dir).select(
        F.explode(
            F.array(*[F.lit(int(b)) for b in HNSW_BEAM_WIDTHS])
        ).alias("bw"),
        "probe_id",
        "neighbor_id",
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    wk = Window.partitionBy("bw", "probe_id").orderBy(
        F.desc("c6"), F.asc("node")
    )
    seen = _hnsw_search(ranked, adj, HNSW_BEAM_WIDTHS).localCheckpoint()
    topk = (
        seen.where(F.col("node") != F.col("probe_id"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= TOP_K)
        .select(
            "bw",
            "probe_id",
            F.col("node").alias("neighbor_id"),
            F.lit(1).alias("hit"),
        )
    )
    hits = (
        exact.join(topk, ["bw", "probe_id", "neighbor_id"], "left")
        .groupBy("bw")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("bigint")
            .alias("found"),
        )
    )
    evals = (
        seen.groupBy("bw", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_seen"))
        .groupBy("bw")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum("n_seen").cast("bigint").alias("tot_seen"),
        )
    )
    return (
        hits.join(evals, "bw")
        .select(
            F.col("bw").cast("int").alias("beam_width"),
            "n_probes",
            "n_pairs",
            "found",
            f6(
                F.col("found").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("mean_recall"),
            f6(
                F.col("tot_seen").cast("double")
                / F.col("n_probes").cast("double")
            ).alias("mean_evals"),
        )
        .orderBy("beam_width")
    )


QUERIES = {
    "sim_search_hnsw": sim_search_hnsw,
    "sim_search_hnsw_recall": sim_search_hnsw_recall,
    "embedding_anisotropy": embedding_anisotropy,
    "embedding_hubness": embedding_hubness,
    "sim_search_pq_recall": sim_search_pq_recall,
    "sim_search_pq_rerank": sim_search_pq_rerank,
    "embedding_pq_distortion_curve": embedding_pq_distortion_curve,
    "sim_search_sq8": sim_search_sq8,
    "embedding_sign_quantization": embedding_sign_quantization,
    "embedding_jl_projection": embedding_jl_projection,
    "hybrid_search_rrf": hybrid_search_rrf,
    "sim_search_bruteforce": sim_search_bruteforce,
    "embedding_pq_stats": embedding_pq_stats,
    "embedding_norm_outliers": embedding_norm_outliers,
    "embedding_matryoshka_eval": embedding_matryoshka_eval,
    "embedding_label_noise": embedding_label_noise,
    "sim_search_lsh_tuning": sim_search_lsh_tuning,
    "embedding_unit_norm": embedding_unit_norm,
    "sim_search_incremental": sim_search_incremental,
    "embedding_code_dups": embedding_code_dups,
    "embedding_dim_stats": embedding_dim_stats,
    "sim_search_lsh": sim_search_lsh,
    "sim_search_ivf": sim_search_ivf,
    "sim_search_ivf_imbalance": sim_search_ivf_imbalance,
    "embedding_quantize": embedding_quantize,
    "embedding_hard_negatives": embedding_hard_negatives,
    "sim_search_recall": sim_search_recall,
    "sim_search_recall_curve": sim_search_recall_curve,
    "sim_search_ivf_nprobe_curve": sim_search_ivf_nprobe_curve,
    "sim_search_filtered": sim_search_filtered,
    "sim_search_ndcg": sim_search_ndcg,
    "embedding_topk_margin": embedding_topk_margin,
    "embedding_knn_eval": embedding_knn_eval,
    "embedding_mmd_drift": embedding_mmd_drift,
    "embedding_intrinsic_dim": embedding_intrinsic_dim,
    "sim_search_pq_adc": sim_search_pq_adc,
    "embedding_covariance": embedding_covariance,
    "embedding_participation_ratio": embedding_participation_ratio,
    "embedding_pca_power": embedding_pca_power,
}


#: Corpus-adaptive banding for the embedding-DEDUP pair frame
#: (dedup_embedding_cosine / embedding_dedup_threshold_curve). The
#: round-9 sf10 decade measured the fixed 4-bit tables at
#: α(1→10) = 1.92 on an honest (orthogonally-transformed-replica)
#: corpus: with FIXED bucket cardinality, bucket populations grow
#: linearly and the candidate pair frame quadratically — the
#: fixed-cardinality blocking-key trap. Bits per table now scale
#: with the corpus so the expected (label, tbl, bucket) population
#: stays ≤ DEDUP_TARGET_BUCKET: bits = the smallest b in
#: [BITS_PER_TABLE, DEDUP_MAX_BITS] with
#: labels · DEDUP_TARGET_BUCKET · 2^b ≥ n — a pure INTEGER rule both
#: engines evaluate identically (no log2/libm boundary). At the
#: driver's SFs the rule yields b = 4 = the historical constant, so
#: small-SF results are bit-identical to the fixed-bit plan. The
#: known tradeoff: per-table collision probability for a true
#: near-dup falls as (1−θ/π)^b, so at production scale the recall
#: floor is held by raising DEDUP_LSH-table count alongside b —
#: the table count is the recall knob, the bit count the cost knob.
DEDUP_TARGET_BUCKET = 32
DEDUP_MAX_BITS = 14
DEDUP_SIG_PLANES = LSH_TABLES * DEDUP_MAX_BITS  # 56-bit sig, int64-safe


def adaptive_dedup_bits(n_vecs: int, n_labels: int) -> int:
    """Python mirror of the oracle's integer bits rule.

    ``n_labels`` is the count of DISTINCT values of the blocking label
    when the candidate join is label-blocked (the dedup family); pass
    ``1`` for joins keyed on (tbl, bucket) alone (the sim-search
    family), where a label factor would overstate capacity by
    n_labels and under-size the buckets.
    """
    for b in range(BITS_PER_TABLE, DEDUP_MAX_BITS + 1):
        if max(n_labels, 1) * DEDUP_TARGET_BUCKET * (1 << b) >= n_vecs:
            return b
    return DEDUP_MAX_BITS


def sig_cte_sql(extra_cols: str = "") -> str:
    """Shared planes/vecs/sigs CTE text (56-plane signature) used by
    both the adaptive ``lsh_bucket_cte`` and the bits-sweep oracle."""
    return f"""planes AS (
            SELECT p.p,
                   [CASE WHEN (strpos('0123456789abcdef',
                               substr(md5(concat(p.p, '_', d)), 1, 1)) - 1) % 2 = 0
                         THEN 1.0 ELSE -1.0 END
                    for d in generate_series(0, {EMB_DIM - 1})] AS coefs
            FROM (SELECT unnest(generate_series(0, {DEDUP_SIG_PLANES - 1})) AS p) p
        ),
        vecs AS (
            SELECT vec_id, {extra_cols} embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        sigs AS (
            SELECT v.vec_id,
                   CAST(SUM(CASE WHEN list_dot_product(pl.coefs, v.v) > 0
                            THEN CAST(pow(2, pl.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
            FROM vecs v CROSS JOIN planes pl
            GROUP BY v.vec_id
        )"""


def lsh_bucket_cte(extra_cols: str = "", label_blocked: bool = False) -> str:
    """Shared DuckDB CTE chain ending in ``bucketed(vec_id[, extras],
    v, nrm, tbl, bucket)`` — the SQL twin of the hyperplane-LSH
    signature + multi-table banding with CORPUS-ADAPTIVE bits per
    table (see adaptive_dedup_bits). ``extra_cols`` (e.g. ``label,``)
    are carried from ``embeddings`` through to ``bucketed``.

    ``label_blocked`` selects the capacity model of the nb rule: a
    candidate join keyed on (label, tbl, bucket) spreads the corpus
    over labels·2^b buckets per table, so the label count multiplies
    capacity; a join keyed on (tbl, bucket) alone (the sim-search
    family, label merely carried) must NOT get that factor or the
    buckets are under-sized by n_labels."""
    labels_factor = (
        "GREATEST((SELECT COUNT(DISTINCT label) FROM embeddings), 1)"
        if label_blocked
        else "1"
    )
    return f"""
        nb AS (
            SELECT CAST(COALESCE((
                SELECT MIN(b) FROM generate_series({BITS_PER_TABLE},
                                                   {DEDUP_MAX_BITS}) g(b)
                WHERE {labels_factor}
                      * {DEDUP_TARGET_BUCKET}
                      * CAST(pow(2, b) AS BIGINT)
                      >= (SELECT COUNT(*) FROM embeddings)
            ), {DEDUP_MAX_BITS}) AS BIGINT) AS nb
        ),
        {sig_cte_sql(extra_cols)},
        bucketed AS (
            SELECT v.vec_id, {extra_cols.replace("label,", "v.label,")} v.v, v.nrm, t.t AS tbl,
                   (s.sig // CAST(pow(2, t.t * nb.nb) AS BIGINT))
                       % CAST(pow(2, nb.nb) AS BIGINT) AS bucket
            FROM vecs v
            JOIN sigs s ON v.vec_id = s.vec_id,
                 (SELECT unnest(generate_series(0, {LSH_TABLES - 1})) AS t) t,
                 nb
        )
    """


#: Shared PQ CTE chain ending in subs2(vec_id, m, sub, xx) and
#: seeds(k, m, csub, cc) — the SQL twin of _pq_subs + the seed
#: codebook.
_PQ_CTE = f"""
        vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        subs AS (
            SELECT vec_id, m.m AS m,
                   v[m.m * {PQ_SUBDIM} + 1 : m.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sub
            FROM vecs,
                 (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
        ),
        subs2 AS (
            SELECT vec_id, m, sub, list_dot_product(sub, sub) AS xx
            FROM subs
        ),
        seeds AS (
            SELECT vec_id AS k, m, sub AS csub, xx AS cc
            FROM subs2 WHERE vec_id < {PQ_K}
        )
"""


#: Shared CTE chain ending in covs(i, j, cov) — the upper-triangle
#: sample covariance via corpus self-join (the Spark twin uses a
#: row-local double posexplode instead; same exact decimal sums).
_COV_CTE = """
        ex AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        csums AS (
            SELECT a.i AS i, b.i AS j,
                   COUNT(*) AS n,
                   SUM(CAST(a.v AS DECIMAL(38,18))) AS si,
                   SUM(CAST(b.v AS DECIMAL(38,18))) AS sj,
                   SUM(CAST(a.v * b.v AS DECIMAL(38,18))) AS sij
            FROM ex a JOIN ex b
              ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY a.i, b.i
        ),
        covs AS (
            SELECT i, j,
                   (CAST(sij AS DOUBLE)
                    - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE)
                      / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1.0) AS cov
            FROM csums
        )
"""


def _pca_iter_sql(k: int) -> str:
    """One unrolled power-iteration round: mat-vec in exact decimal,
    norm, normalize — the PageRank-oracle unrolling trick."""
    return f"""
        w{k} AS MATERIALIZED (
            SELECT c.i,
                   CAST(SUM(CAST(c.cov * p.val AS DECIMAL(38,18)))
                        AS DOUBLE) AS wval
            FROM cmat c JOIN v{k - 1} p ON c.j = p.i
            GROUP BY c.i
        ),
        n{k} AS MATERIALIZED (
            SELECT sqrt(CAST(SUM(CAST(wval * wval AS DECIMAL(38,18)))
                             AS DOUBLE)) AS nrm
            FROM w{k}
        ),
        v{k} AS MATERIALIZED (
            SELECT w.i, w.wval / n.nrm AS val FROM w{k} w, n{k} n
        )
    """


def _hnsw_graph_cte() -> str:
    """DuckDB twin of ``_hnsw_graph``: CTE chain ending in
    ``adj(src, dst)``, ``rk(vec_id, v, nrm, rn)``, ``pr``/``ent``
    (probes/entry nodes). MATERIALIZED where a CTE is referenced
    more than once (DuckDB inlines CTEs; the dyadic-chain lesson)."""
    c6 = (
        "floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)"
        " * 1e6) / 1e6"
    )
    return f"""{sig_cte_sql()},
        gnb AS (
            SELECT CAST(COALESCE((
                SELECT MIN(b) FROM generate_series({BITS_PER_TABLE},
                                                   {DEDUP_MAX_BITS}) g(b)
                WHERE {GRAPH_TARGET_BUCKET}
                      * CAST(pow(2, b) AS BIGINT)
                      >= (SELECT COUNT(*) FROM embeddings)
            ), {DEDUP_MAX_BITS}) AS BIGINT) AS nb
        ),
        rk AS MATERIALIZED (
            SELECT v.vec_id, v.v, v.nrm,
                   ROW_NUMBER() OVER (
                       ORDER BY md5('hnsw_' || CAST(v.vec_id AS VARCHAR)),
                                v.vec_id) AS rn
            FROM vecs v
        ),
        gbk AS MATERIALIZED (
            SELECT r.vec_id, r.rn, t.t AS tbl,
                   (s.sig // CAST(pow(2, t.t * nb.nb) AS BIGINT))
                       % CAST(pow(2, nb.nb) AS BIGINT) AS bucket
            FROM rk r JOIN sigs s ON r.vec_id = s.vec_id,
                 (SELECT unnest(generate_series(0, {LSH_TABLES - 1}))
                      AS t) t,
                 gnb nb
        ),
        gbh AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY tbl, bucket
                                         ORDER BY rn) AS hrank
            FROM gbk
        ),
        bpairs AS (
            SELECT m.vec_id AS src, h.vec_id AS dst
            FROM gbk m JOIN gbh h
              ON m.tbl = h.tbl AND m.bucket = h.bucket
            WHERE h.hrank <= {HNSW_HUB_CAP} AND h.rn < m.rn
        ),
        hseeds AS (
            SELECT vec_id AS cell, list_transform(v, x -> x / nrm) AS sv
            FROM vecs WHERE vec_id < {IVF_CELLS}
        ),
        hscores AS (
            SELECT v.vec_id, s.cell,
                   list_dot_product(v.v, s.sv) AS score
            FROM vecs v CROSS JOIN hseeds s
        ),
        hcells AS (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cell ASC)
                       AS crank
            FROM hscores
        ),
        homes AS MATERIALIZED (
            SELECT r.vec_id, r.rn, hc.cell
            FROM rk r JOIN hcells hc
              ON r.vec_id = hc.vec_id AND hc.crank = 1
        ),
        chh AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                                         ORDER BY rn) AS hrank
            FROM homes
        ),
        cpairs AS (
            SELECT m.vec_id AS src, h.vec_id AS dst
            FROM homes m JOIN chh h ON m.cell = h.cell
            WHERE h.hrank <= {HNSW_HUB_CAP} AND h.rn < m.rn
        ),
        chain AS (
            SELECT a.vec_id AS src, b.vec_id AS dst
            FROM rk a JOIN rk b ON a.rn = b.rn + 1
        ),
        cand0 AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM bpairs
                UNION ALL SELECT src, dst FROM cpairs
                UNION ALL SELECT src, dst FROM chain)
        ),
        sc0 AS (
            SELECT c.src, c.dst, {c6} AS c6
            FROM cand0 c
            JOIN rk a ON c.src = a.vec_id
            JOIN rk b ON c.dst = b.vec_id
        ),
        out0 AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY c6 DESC, dst ASC)
                           AS mr
                FROM sc0)
            WHERE mr <= {HNSW_M}
        ),
        und0 AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM out0
                UNION ALL SELECT dst AS src, src AS dst FROM out0)
        ),
        scu AS (
            SELECT c.src, c.dst, {c6} AS c6
            FROM und0 c
            JOIN rk a ON c.src = a.vec_id
            JOIN rk b ON c.dst = b.vec_id
        ),
        expedges AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY c6 DESC, dst ASC)
                           AS xr
                FROM scu)
            WHERE xr <= {HNSW_DESCENT_T}
        ),
        cand1 AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM und0
                UNION ALL
                SELECT e1.src, e2.dst
                FROM expedges e1 JOIN und0 e2 ON e1.dst = e2.src
                WHERE e1.src <> e2.dst)
        ),
        sc1 AS (
            SELECT c.src, c.dst, {c6} AS c6
            FROM cand1 c
            JOIN rk a ON c.src = a.vec_id
            JOIN rk b ON c.dst = b.vec_id
        ),
        out1 AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY c6 DESC, dst ASC)
                           AS mr
                FROM sc1)
            WHERE mr <= {HNSW_M}
        ),
        adj AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM out1
                UNION ALL SELECT dst AS src, src AS dst FROM out1)
        ),
        pr AS MATERIALIZED (
            SELECT vec_id AS probe_id, v AS pv, nrm AS pn
            FROM rk WHERE vec_id < {N_PROBES}
        ),
        ent AS (
            SELECT vec_id AS node FROM rk WHERE rn <= {HNSW_ENTRIES}
        )"""


def _hnsw_search_cte(bw: int, t: str) -> str:
    """Unrolled HNSW_HOPS best-first beam hops at beam width ``bw``
    (CTE suffix ``t``), ending in ``seen{HNSW_HOPS}_{t}``."""
    pc6 = (
        "floor(list_dot_product(p.pv, r.v) / (p.pn * r.nrm)"
        " * 1e6) / 1e6"
    )
    parts = [
        f"""
        c0_{t} AS (
            SELECT DISTINCT probe_id, node FROM (
                SELECT p.probe_id, e.node FROM pr p CROSS JOIN ent e
                UNION ALL SELECT probe_id, probe_id AS node FROM pr)
        ),
        s0_{t} AS MATERIALIZED (
            SELECT c.probe_id, c.node, {pc6} AS c6
            FROM c0_{t} c
            JOIN pr p ON c.probe_id = p.probe_id
            JOIN rk r ON c.node = r.vec_id
        ),
        b0_{t} AS MATERIALIZED (
            SELECT probe_id, node, c6 FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY c6 DESC,
                                                      node ASC) AS br
                FROM s0_{t})
            WHERE br <= {bw}
        ),
        seen0_{t} AS (SELECT probe_id, node, c6 FROM b0_{t}),
        exp0_{t} AS (
            SELECT CAST(NULL AS BIGINT) AS probe_id,
                   CAST(NULL AS BIGINT) AS node
            WHERE FALSE
        )"""
    ]
    for h in range(1, HNSW_HOPS + 1):
        parts.append(
            f"""
        todo{h}_{t} AS MATERIALIZED (
            SELECT probe_id, node FROM (
                SELECT b.probe_id, b.node,
                       ROW_NUMBER() OVER (PARTITION BY b.probe_id
                                          ORDER BY b.c6 DESC,
                                                   b.node ASC) AS tr
                FROM b{h - 1}_{t} b
                LEFT JOIN exp{h - 1}_{t} x
                  ON b.probe_id = x.probe_id AND b.node = x.node
                WHERE x.probe_id IS NULL)
            WHERE tr <= {HNSW_EXPAND}
        ),
        nb{h}_{t} AS (
            SELECT DISTINCT td.probe_id, a.dst AS node
            FROM todo{h}_{t} td JOIN adj a ON td.node = a.src
        ),
        fr{h}_{t} AS (
            SELECT DISTINCT probe_id, node FROM (
                SELECT probe_id, node FROM b{h - 1}_{t}
                UNION ALL SELECT probe_id, node FROM nb{h}_{t})
        ),
        fs{h}_{t} AS MATERIALIZED (
            SELECT c.probe_id, c.node, {pc6} AS c6
            FROM fr{h}_{t} c
            JOIN pr p ON c.probe_id = p.probe_id
            JOIN rk r ON c.node = r.vec_id
        ),
        exp{h}_{t} AS MATERIALIZED (
            SELECT DISTINCT probe_id, node FROM (
                SELECT probe_id, node FROM exp{h - 1}_{t}
                UNION ALL SELECT probe_id, node FROM todo{h}_{t})
        ),
        b{h}_{t} AS MATERIALIZED (
            SELECT probe_id, node, c6 FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY c6 DESC,
                                                      node ASC) AS br
                FROM fs{h}_{t})
            WHERE br <= {bw}
        ),
        seen{h}_{t} AS MATERIALIZED (
            SELECT DISTINCT probe_id, node, c6 FROM (
                SELECT probe_id, node, c6 FROM seen{h - 1}_{t}
                UNION ALL
                SELECT probe_id, node, c6 FROM fs{h}_{t})
        )"""
        )
    return ",".join(parts)


def _hnsw_oracle_sql() -> str:
    t = f"w{HNSW_BEAM}"
    return f"""
        WITH {_hnsw_graph_cte()},
        {_hnsw_search_cte(HNSW_BEAM, t)}
        SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM (
            SELECT probe_id, node AS neighbor_id, c6 AS cosine,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY c6 DESC, node ASC)
                       AS rank
            FROM seen{HNSW_HOPS}_{t}
            WHERE node <> probe_id)
        WHERE rank <= {TOP_K}
        ORDER BY probe_id, rank
    """


def _hnsw_recall_oracle_sql() -> str:
    searches = ",".join(
        _hnsw_search_cte(bw, f"w{bw}") for bw in HNSW_BEAM_WIDTHS
    )
    per_width = "\n            UNION ALL\n".join(
        f"""
            SELECT {bw} AS beam_width,
                   (SELECT CAST(COUNT(DISTINCT probe_id) AS BIGINT)
                    FROM seen{HNSW_HOPS}_w{bw}) AS n_probes,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM exact)
                       AS n_pairs,
                   (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM exact e JOIN topk_{bw} a
                      ON e.probe_id = a.probe_id
                     AND e.neighbor_id = a.neighbor_id) AS found,
                   (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM seen{HNSW_HOPS}_w{bw}) AS tot_seen"""
        for bw in HNSW_BEAM_WIDTHS
    )
    topks = ",".join(
        f"""
        topk_{bw} AS (
            SELECT probe_id, node AS neighbor_id FROM (
                SELECT probe_id, node,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY c6 DESC, node ASC)
                           AS rank
                FROM seen{HNSW_HOPS}_w{bw}
                WHERE node <> probe_id)
            WHERE rank <= {TOP_K}
        )"""
        for bw in HNSW_BEAM_WIDTHS
    )
    return f"""
        WITH {_hnsw_graph_cte()},
        {searches},
        {topks},
        exact AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT p.probe_id, r.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.probe_id
                           ORDER BY floor(list_dot_product(p.pv, r.v)
                                          / (p.pn * r.nrm)
                                          * 1e6) / 1e6 DESC,
                                    r.vec_id ASC) AS rank
                FROM pr p JOIN rk r ON p.probe_id <> r.vec_id)
            WHERE rank <= {TOP_K}
        )
        SELECT beam_width, n_probes, n_pairs, found,
               floor(CAST(found AS DOUBLE) / CAST(n_pairs AS DOUBLE)
                     * 1e6) / 1e6 AS mean_recall,
               floor(CAST(tot_seen AS DOUBLE)
                     / CAST(n_probes AS DOUBLE) * 1e6) / 1e6
                   AS mean_evals
        FROM ({per_width})
        ORDER BY beam_width
    """


ORACLES = {
    "sim_search_hnsw": _hnsw_oracle_sql(),
    "sim_search_hnsw_recall": _hnsw_recall_oracle_sql(),
    # Same unrolled power-iteration chain as embedding_pca_power for
    # lambda_max (reusing its floored value), trace from the
    # covariance diagonal.
    "embedding_anisotropy": f"""
        WITH {_COV_CTE},
        cmat AS MATERIALIZED (
            SELECT i, j, cov FROM covs
            UNION ALL
            SELECT j AS i, i AS j, cov FROM covs WHERE i <> j
        ),
        v0 AS MATERIALIZED (SELECT DISTINCT i, 0.125 AS val FROM cmat),
        {",".join(_pca_iter_sql(k) for k in range(1, PCA_POWER_ITERS + 1))},
        lam AS (
            SELECT floor(nrm * 1e6) / 1e6 AS lam
            FROM n{PCA_POWER_ITERS}
        ),
        tr AS (
            SELECT CAST(SUM(CAST(cov AS DECIMAL(38,18))) AS DOUBLE)
                       AS trace
            FROM covs WHERE i = j
        )
        SELECT {EMB_DIM} AS d,
               floor(trace * 1e6) / 1e6 AS trace,
               lam AS lambda_max,
               floor(lam / trace * 1e6) / 1e6 AS top_pc_share,
               floor(lam * {EMB_DIM} / trace * 1e6) / 1e6 AS anisotropy
        FROM lam CROSS JOIN tr
    """,
    "embedding_hubness": f"""
        WITH {lsh_bucket_cte()},
        cands AS (
            SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
                         * 1e6) / 1e6 AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.tbl = b.tbl AND a.bucket = b.bucket
             AND a.vec_id <> b.vec_id
        ),
        knn AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                           ORDER BY cosine DESC, dst ASC) AS rank
                FROM cands
            ) WHERE rank <= {TOP_K}
        ),
        indeg AS (
            SELECT dst AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
            FROM knn GROUP BY dst
        )
        SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM indeg GROUP BY in_degree ORDER BY in_degree
    """,
    "embedding_sign_quantization": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        codes AS (
            SELECT v.vec_id,
                   CAST(SUM(CASE WHEN v.v[t.d + 1] > 0
                            THEN CAST(pow(2, t.d) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS code_lo,
                   CAST(SUM(CASE WHEN v.v[t.d + 33] > 0
                            THEN CAST(pow(2, t.d) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS code_hi
            FROM vecs v,
                 (SELECT unnest(generate_series(0, 31)) AS d) t
            GROUP BY v.vec_id
        ),
        qprobes AS (
            SELECT vec_id AS probe_id, code_lo AS plo, code_hi AS phi
            FROM codes WHERE vec_id < {N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, c.vec_id AS neighbor_id,
                   bit_count(xor(c.code_lo, p.plo))
                   + bit_count(xor(c.code_hi, p.phi)) AS hamming
            FROM qprobes p JOIN codes c ON c.vec_id <> p.probe_id
        ),
        hranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id
                ORDER BY hamming ASC, neighbor_id ASC) AS rank
            FROM scored
        ),
        approx AS (
            SELECT probe_id, neighbor_id, 1 AS hit
            FROM hranked WHERE rank <= {TOP_K}
        ),
        cpairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
                         * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        cranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM cpairs
        ),
        exact AS (
            SELECT probe_id, neighbor_id FROM cranked
            WHERE rank <= {TOP_K}
        )
        SELECT e.probe_id,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS found,
               floor(CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) * 1e6
                     / COUNT(*)) / 1e6 AS recall
        FROM exact e
        LEFT JOIN approx a
          ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.probe_id
        ORDER BY e.probe_id
    """,
    "embedding_jl_projection": f"""
        WITH planes AS (
            SELECT p.p,
                   [CASE WHEN (strpos('0123456789abcdef',
                               substr(md5(concat(p.p, '_', d)), 1, 1)) - 1) % 2 = 0
                         THEN 1.0 ELSE -1.0 END
                    for d in generate_series(0, {EMB_DIM - 1})] AS coefs
            FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p) p
        ),
        vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < {N_PROBES}
        ),
        proj AS (
            SELECT v.vec_id, v.v,
                   list(list_dot_product(pl.coefs, v.v)
                        / sqrt({N_PLANES}.0) ORDER BY pl.p) AS pv
            FROM vecs v CROSS JOIN planes pl
            GROUP BY v.vec_id, v.v
        )
        SELECT a.vec_id AS a, b.vec_id AS b,
               floor(sqrt(greatest(0.0,
                   list_dot_product(a.v, a.v)
                   + list_dot_product(b.v, b.v)
                   - 2 * list_dot_product(a.v, b.v))) * 1e6) / 1e6
                   AS dist_orig,
               floor(sqrt(greatest(0.0,
                   list_dot_product(a.pv, a.pv)
                   + list_dot_product(b.pv, b.pv)
                   - 2 * list_dot_product(a.pv, b.pv))) * 1e6) / 1e6
                   AS dist_proj,
               floor(sqrt(greatest(0.0,
                   list_dot_product(a.pv, a.pv)
                   + list_dot_product(b.pv, b.pv)
                   - 2 * list_dot_product(a.pv, b.pv)))
                   / sqrt(greatest(0.0,
                   list_dot_product(a.v, a.v)
                   + list_dot_product(b.v, b.v)
                   - 2 * list_dot_product(a.v, b.v))) * 1e6) / 1e6
                   AS distortion
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
        ORDER BY a, b
    """,
    "hybrid_search_rrf": rf"""
        WITH kw AS (
            SELECT doc_id,
                   len(list_filter(
                       string_split_regex(trim(lower(text)), '\s+'),
                       t -> t = '{RRF_KEYWORD}')) AS kw_tf
            FROM documents
        ),
        kw_pool AS (
            SELECT doc_id, kw_tf FROM kw WHERE kw_tf > 0
            ORDER BY kw_tf DESC, doc_id ASC LIMIT {RRF_POOL}
        ),
        kw_ranked AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY kw_tf DESC, doc_id ASC) AS INT) AS kw_rank
            FROM kw_pool
        ),
        vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        probe AS (
            SELECT v AS pv, nrm AS pnorm FROM vecs
            WHERE vec_id = {RRF_PROBE_ID}
        ),
        vec_pool AS (
            SELECT vec_id AS doc_id,
                   floor(list_dot_product(v, pv) / (nrm * pnorm) * 1e6)
                       / 1e6 AS cosine
            FROM vecs CROSS JOIN probe
            WHERE vec_id <> {RRF_PROBE_ID}
            ORDER BY cosine DESC, doc_id ASC LIMIT {RRF_POOL}
        ),
        vec_ranked AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY cosine DESC, doc_id ASC) AS INT) AS vec_rank
            FROM vec_pool
        )
        SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
               k.kw_rank, v.vec_rank,
               floor((COALESCE(1.0 / ({RRF_K} + k.kw_rank), 0.0)
                      + COALESCE(1.0 / ({RRF_K} + v.vec_rank), 0.0))
                     * 1e6) / 1e6 AS rrf
        FROM kw_ranked k FULL JOIN vec_ranked v ON k.doc_id = v.doc_id
        ORDER BY rrf DESC, doc_id ASC
        LIMIT {RRF_TOP}
    """,
    "embedding_pca_power": f"""
        WITH {_COV_CTE},
        cmat AS MATERIALIZED (
            SELECT i, j, cov FROM covs
            UNION ALL
            SELECT j AS i, i AS j, cov FROM covs WHERE i <> j
        ),
        v0 AS MATERIALIZED (SELECT DISTINCT i, 0.125 AS val FROM cmat),
        {",".join(_pca_iter_sql(k) for k in range(1, PCA_POWER_ITERS + 1))},
        wlast AS (
            SELECT c.i,
                   CAST(SUM(CAST(c.cov * p.val AS DECIMAL(38,18)))
                        AS DOUBLE) AS cv
            FROM cmat c JOIN v{PCA_POWER_ITERS} p ON c.j = p.i
            GROUP BY c.i
        ),
        res AS (
            SELECT sqrt(CAST(SUM(CAST(
                       (w.cv - n.nrm * v.val) * (w.cv - n.nrm * v.val)
                   AS DECIMAL(38,18))) AS DOUBLE)) AS residual
            FROM wlast w
            JOIN v{PCA_POWER_ITERS} v ON w.i = v.i,
                 n{PCA_POWER_ITERS} n
        )
        SELECT v.i AS pos,
               floor(v.val * 1e6) / 1e6 AS loading,
               floor(n.nrm * 1e6) / 1e6 AS eigenvalue,
               floor(r.residual * 1e6) / 1e6 AS residual
        FROM v{PCA_POWER_ITERS} v, n{PCA_POWER_ITERS} n, res r
        ORDER BY pos
    """,
    "sim_search_pq_adc": f"""
        WITH {_PQ_CTE},
        pairs AS (
            SELECT s.vec_id, s.m, c.k,
                   s.xx + c.cc - 2 * list_dot_product(s.sub, c.csub) AS dist
            FROM subs2 s JOIN seeds c ON s.m = c.m
        ),
        codes AS (
            SELECT vec_id, m, k AS code
            FROM (
                SELECT vec_id, m, k,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY dist, k) AS rn
                FROM pairs
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT s.vec_id AS probe_id, s.m, c.k AS code,
                   s.xx + c.cc - 2 * list_dot_product(s.sub, c.csub) AS pdist
            FROM subs2 s JOIN seeds c ON s.m = c.m
            WHERE s.vec_id < {N_PROBES}
        ),
        adc AS (
            SELECT l.probe_id, c.vec_id,
                   SUM(CAST(l.pdist AS DECIMAL(38,12))) AS d_exact
            FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
            WHERE c.vec_id <> l.probe_id
            GROUP BY l.probe_id, c.vec_id
        ),
        ranked AS (
            SELECT probe_id, vec_id, d_exact,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY d_exact, vec_id) AS rank
            FROM adc
        )
        SELECT probe_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank,
               floor(CAST(d_exact AS DOUBLE) * 1e6) / 1e6 AS adc_dist
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY probe_id, rank
    """,
    # ADC chain reused verbatim, scored against the exact euclidean
    # top-k via the same probe-bounded left join as sim_search_recall.
    "sim_search_sq8": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        ex AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        dimstats AS (
            SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY d
        ),
        st AS (
            SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
            FROM dimstats
        ),
        deq AS (
            SELECT v.vec_id,
                   [mns[d + 1]
                    + (LEAST({SQ_LEVELS - 1}.0, GREATEST(0.0,
                           floor((v.v[d + 1] - mns[d + 1])
                                 / (mxs[d + 1] - mns[d + 1])
                                 * {SQ_LEVELS}.0)))
                       + 0.5) * (mxs[d + 1] - mns[d + 1]) / {SQ_LEVELS}.0
                    for d in generate_series(0, {EMB_DIM - 1})] AS vq
            FROM vecs v CROSS JOIN st
        ),
        apairs AS (
            SELECT a.vec_id AS probe_id, q.vec_id AS neighbor_id,
                   floor((list_dot_product(a.v, a.v)
                          + list_dot_product(q.vq, q.vq)
                          - 2 * list_dot_product(a.v, q.vq)) * 1e6) / 1e6
                       AS d2a
            FROM vecs a JOIN deq q ON a.vec_id <> q.vec_id
            WHERE a.vec_id < {N_PROBES}
        ),
        approx AS (
            SELECT probe_id, neighbor_id, 1 AS hit FROM (
                SELECT probe_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY d2a, neighbor_id)
                           AS rank
                FROM apairs
            ) WHERE rank <= {TOP_K}
        ),
        epairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor((list_dot_product(a.v, a.v)
                          + list_dot_product(b.v, b.v)
                          - 2 * list_dot_product(a.v, b.v)) * 1e6) / 1e6
                       AS d2
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        exact AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT probe_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY d2, neighbor_id)
                           AS rank
                FROM epairs
            ) WHERE rank <= {TOP_K}
        )
        SELECT e.probe_id,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS found,
               floor(CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) * 1e6
                     / COUNT(*)) / 1e6 AS recall
        FROM exact e LEFT JOIN approx a USING (probe_id, neighbor_id)
        GROUP BY e.probe_id
        ORDER BY e.probe_id
    """,
    "embedding_pq_distortion_curve": f"""
        WITH cvecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {",".join(
            f'''subs{m} AS (
            SELECT vec_id, m.m AS m,
                   v[m.m * {EMB_DIM // m} + 1 : m.m * {EMB_DIM // m}
                     + {EMB_DIM // m}] AS sub
            FROM cvecs,
                 (SELECT unnest(generate_series(0, {m - 1})) AS m) m
        ),
        subs2_{m} AS (
            SELECT vec_id, m, sub, list_dot_product(sub, sub) AS xx
            FROM subs{m}
        ),
        seeds{m} AS (
            SELECT vec_id AS k, m, sub AS csub, xx AS cc
            FROM subs2_{m} WHERE vec_id < {PQ_K}
        ),
        best{m} AS (
            SELECT s.vec_id, s.m,
                   MIN(s.xx + c.cc
                       - 2 * list_dot_product(s.sub, c.csub)) AS dist
            FROM subs2_{m} s JOIN seeds{m} c ON s.m = c.m
            GROUP BY s.vec_id, s.m
        )''' for m in PQ_CURVE_MS
        )}
        {" UNION ALL ".join(
            f'''SELECT {m} AS m_subquantizers,
                   {EMB_DIM // m} AS subdim,
                   CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors,
                   floor(CAST(SUM(CAST(greatest(dist, 0.0)
                                       AS DECIMAL(38,12))) AS DOUBLE)
                         * 1e6) / 1e6 AS total_distortion
            FROM best{m}''' for m in PQ_CURVE_MS
        )}
        ORDER BY m_subquantizers
    """,
    "sim_search_pq_rerank": f"""
        WITH {_PQ_CTE},
        pairs AS (
            SELECT s.vec_id, s.m, c.k,
                   s.xx + c.cc - 2 * list_dot_product(s.sub, c.csub) AS dist
            FROM subs2 s JOIN seeds c ON s.m = c.m
        ),
        codes AS (
            SELECT vec_id, m, k AS code
            FROM (
                SELECT vec_id, m, k,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY dist, k) AS rn
                FROM pairs
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT s.vec_id AS probe_id, s.m, c.k AS code,
                   s.xx + c.cc - 2 * list_dot_product(s.sub, c.csub) AS pdist
            FROM subs2 s JOIN seeds c ON s.m = c.m
            WHERE s.vec_id < {N_PROBES}
        ),
        adc AS (
            SELECT l.probe_id, c.vec_id,
                   SUM(CAST(l.pdist AS DECIMAL(38,12))) AS d_exact
            FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
            WHERE c.vec_id <> l.probe_id
            GROUP BY l.probe_id, c.vec_id
        ),
        shortlist AS (
            SELECT probe_id, vec_id
            FROM (
                SELECT probe_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY d_exact, vec_id) AS srank
                FROM adc
            ) WHERE srank <= {RERANK_SHORTLIST}
        ),
        epairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor((list_dot_product(a.v, a.v)
                          + list_dot_product(b.v, b.v)
                          - 2 * list_dot_product(a.v, b.v)) * 1e6) / 1e6
                       AS d2
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        reranked AS (
            SELECT probe_id, neighbor_id, 1 AS hit
            FROM (
                SELECT e.probe_id, e.neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY e.probe_id
                                          ORDER BY e.d2, e.neighbor_id)
                           AS rank
                FROM epairs e
                JOIN shortlist s
                  ON e.probe_id = s.probe_id AND e.neighbor_id = s.vec_id
            ) WHERE rank <= {TOP_K}
        ),
        exact AS (
            SELECT probe_id, neighbor_id
            FROM (
                SELECT probe_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY d2, neighbor_id) AS rank
                FROM epairs
            ) WHERE rank <= {TOP_K}
        )
        SELECT e.probe_id,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(COALESCE(r.hit, 0)) AS BIGINT) AS found,
               floor(CAST(SUM(COALESCE(r.hit, 0)) AS BIGINT) * 1e6
                     / COUNT(*)) / 1e6 AS recall
        FROM exact e
        LEFT JOIN reranked r
          ON e.probe_id = r.probe_id AND e.neighbor_id = r.neighbor_id
        GROUP BY e.probe_id
        ORDER BY e.probe_id
    """,
    "sim_search_pq_recall": f"""
        WITH {_PQ_CTE},
        pairs AS (
            SELECT s.vec_id, s.m, c.k,
                   s.xx + c.cc - 2 * list_dot_product(s.sub, c.csub) AS dist
            FROM subs2 s JOIN seeds c ON s.m = c.m
        ),
        codes AS (
            SELECT vec_id, m, k AS code
            FROM (
                SELECT vec_id, m, k,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY dist, k) AS rn
                FROM pairs
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT s.vec_id AS probe_id, s.m, c.k AS code,
                   s.xx + c.cc - 2 * list_dot_product(s.sub, c.csub) AS pdist
            FROM subs2 s JOIN seeds c ON s.m = c.m
            WHERE s.vec_id < {N_PROBES}
        ),
        adc AS (
            SELECT l.probe_id, c.vec_id,
                   SUM(CAST(l.pdist AS DECIMAL(38,12))) AS d_exact
            FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
            WHERE c.vec_id <> l.probe_id
            GROUP BY l.probe_id, c.vec_id
        ),
        approx AS (
            SELECT probe_id, vec_id AS neighbor_id, 1 AS hit
            FROM (
                SELECT probe_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY d_exact, vec_id) AS rank
                FROM adc
            ) WHERE rank <= {TOP_K}
        ),
        epairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor((list_dot_product(a.v, a.v)
                          + list_dot_product(b.v, b.v)
                          - 2 * list_dot_product(a.v, b.v)) * 1e6) / 1e6
                       AS d2
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        exact AS (
            SELECT probe_id, neighbor_id
            FROM (
                SELECT probe_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY d2, neighbor_id) AS rank
                FROM epairs
            ) WHERE rank <= {TOP_K}
        )
        SELECT e.probe_id,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS found,
               floor(CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) * 1e6
                     / COUNT(*)) / 1e6 AS recall
        FROM exact e
        LEFT JOIN approx a
          ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.probe_id
        ORDER BY e.probe_id
    """,
    # Self-join formulation — deliberately different from the Spark
    # twin's row-local double-posexplode, same exact decimal sums.
    "embedding_participation_ratio": f"""
        WITH {_COV_CTE},
        agg AS (
            SELECT CAST(COUNT(CASE WHEN i = j THEN 1 END) AS INT) AS d,
                   CAST(SUM(CASE WHEN i = j
                            THEN CAST(cov AS DECIMAL(38,18)) END)
                        AS DOUBLE) AS tr,
                   CAST(SUM(CAST((CASE WHEN i = j THEN 1.0 ELSE 2.0 END)
                                 * cov * cov AS DECIMAL(38,18)))
                        AS DOUBLE) AS fr
            FROM covs
        )
        SELECT d,
               floor(tr * 1e6) / 1e6 AS trace_var,
               floor(fr * 1e6) / 1e6 AS frob_sq,
               floor(tr * tr / fr * 1e6) / 1e6 AS participation_ratio,
               floor(tr * tr / fr / d * 1e6) / 1e6 AS pr_over_d
        FROM agg
    """,
    "embedding_covariance": f"""
        WITH {_COV_CTE},
        var AS (SELECT i AS d, cov AS v FROM covs WHERE i = j)
        SELECT c.i, c.j,
               floor(c.cov * 1e6) / 1e6 AS cov,
               floor(c.cov / NULLIF(sqrt(vi.v * vj.v), 0) * 1e6) / 1e6
                   AS corr
        FROM covs c
        JOIN var vi ON c.i = vi.d
        JOIN var vj ON c.j = vj.d
        ORDER BY c.i, c.j
    """,
    "embedding_pq_stats": f"""
        WITH {_PQ_CTE},
        pairs AS (
            SELECT s.vec_id, s.m, c.k,
                   s.xx + c.cc - 2 * list_dot_product(s.sub, c.csub) AS dist
            FROM subs2 s JOIN seeds c ON s.m = c.m
        ),
        best AS (
            SELECT vec_id, m, k AS code, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, k) AS rn
            FROM pairs
        )
        SELECT m AS subspace, code,
               COUNT(*) AS n_vectors,
               floor(CAST(SUM(CAST(dist AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(*) * 1e6) / 1e6 AS avg_qdist
        FROM best WHERE rn = 1
        GROUP BY m, code
        ORDER BY subspace, code
    """,
    # Full-corpus (non-incremental) top-k: proves the incremental
    # merge identity, not just the arithmetic.
    "sim_search_incremental": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        )
        SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v)
                         / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY floor(list_dot_product(a.v, b.v)
                                / (a.nrm * b.nrm) * 1e6) / 1e6 DESC,
                                b.vec_id ASC) AS rank
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ) WHERE rank <= {TOP_K}
        ORDER BY probe_id, rank
    """,
    "embedding_unit_norm": """
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        )
        SELECT vec_id,
               floor(nrm * 1e6) / 1e6 AS norm,
               floor(v[1] / nrm * 1e6) / 1e6 AS u_first,
               floor(v[len(v)] / nrm * 1e6) / 1e6 AS u_last
        FROM vecs
        ORDER BY vec_id
    """,
    # One signature CTE chain; per-configuration banding + eval
    # blocks UNION ALL'd (the default `bucketed` CTE rides along
    # unused for t=4 — harmless).
    "sim_search_lsh_tuning": (
        lambda blocks: f"""
        WITH {lsh_bucket_cte()},
        exact_topk AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                           ORDER BY floor(list_dot_product(a.v, b.v)
                                    / (a.nrm * b.nrm) * 1e6) / 1e6 DESC,
                                    b.vec_id ASC) AS rank
                FROM vecs a, vecs b
                WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
            ) WHERE rank <= {TOP_K}
        )
        SELECT * FROM ({blocks}) ORDER BY n_tables
        """
    )(
        " UNION ALL ".join(
            f"""
            SELECT {t} AS n_tables, {N_PLANES // t} AS bits_per_table,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                        SELECT DISTINCT v1.vec_id, v2.vec_id AS n2
                        FROM vecs v1
                        JOIN sigs s1 ON v1.vec_id = s1.vec_id,
                             (SELECT unnest(generate_series(0, {t - 1})) AS t) tt,
                             vecs v2
                        JOIN sigs s2 ON v2.vec_id = s2.vec_id
                        WHERE v1.vec_id < {N_PROBES}
                          AND v1.vec_id <> v2.vec_id
                          AND (s1.sig // CAST(pow(2, tt.t * {N_PLANES // t}) AS BIGINT))
                              % {2 ** (N_PLANES // t)}
                            = (s2.sig // CAST(pow(2, tt.t * {N_PLANES // t}) AS BIGINT))
                              % {2 ** (N_PLANES // t)}
                   )) AS n_candidates,
                   CAST(COUNT(*) AS BIGINT) AS total_k,
                   CAST(SUM(CASE WHEN tk.neighbor_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS total_found,
                   floor(SUM(CASE WHEN tk.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) * 1e6 / COUNT(*)) / 1e6
                       AS recall_micro
            FROM exact_topk e LEFT JOIN (
                SELECT probe_id, neighbor_id FROM (
                    SELECT c.probe_id, c.neighbor_id,
                           ROW_NUMBER() OVER (PARTITION BY c.probe_id
                               ORDER BY c.cosine DESC,
                                        c.neighbor_id ASC) AS rank
                    FROM (
                        SELECT DISTINCT v1.vec_id AS probe_id,
                               v2.vec_id AS neighbor_id,
                               floor(list_dot_product(v1.v, v2.v)
                                     / (v1.nrm * v2.nrm) * 1e6) / 1e6
                                   AS cosine
                        FROM vecs v1
                        JOIN sigs s1 ON v1.vec_id = s1.vec_id,
                             (SELECT unnest(generate_series(0, {t - 1})) AS t) tt,
                             vecs v2
                        JOIN sigs s2 ON v2.vec_id = s2.vec_id
                        WHERE v1.vec_id < {N_PROBES}
                          AND v1.vec_id <> v2.vec_id
                          AND (s1.sig // CAST(pow(2, tt.t * {N_PLANES // t}) AS BIGINT))
                              % {2 ** (N_PLANES // t)}
                            = (s2.sig // CAST(pow(2, tt.t * {N_PLANES // t}) AS BIGINT))
                              % {2 ** (N_PLANES // t)}
                    ) c
                ) WHERE rank <= {TOP_K}
            ) tk ON e.probe_id = tk.probe_id
                AND e.neighbor_id = tk.neighbor_id
            """
            for t in LSH_SWEEP_TABLES
        )
    ),
    "embedding_label_noise": f"""
        WITH {lsh_bucket_cte("label,")},
        cands AS (
            SELECT DISTINCT a.vec_id AS va, a.label AS la,
                   b.vec_id AS vb, b.label AS lb,
                   floor(list_dot_product(a.v, b.v)
                         / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.tbl = b.tbl AND a.bucket = b.bucket
             AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY va
                          ORDER BY cosine DESC, vb ASC) AS rank
            FROM cands
        ),
        per_vec AS (
            SELECT va, la, COUNT(*) AS k,
                   SUM(CASE WHEN la <> lb THEN 1 ELSE 0 END) AS diff
            FROM ranked WHERE rank <= {TOP_K}
            GROUP BY va, la
        )
        SELECT la AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(k) AS BIGINT) AS total_k,
               CAST(SUM(diff) AS BIGINT) AS total_diff,
               CAST(SUM(CASE WHEN 2 * diff > k THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged,
               floor(SUM(diff) * 1e6 / SUM(k)) / 1e6 AS noise_micro
        FROM per_vec
        GROUP BY la
        ORDER BY la
    """,
    "embedding_matryoshka_eval": (
        lambda blocks: f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        exact_topk AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                       floor(list_dot_product(a.v, b.v)
                             / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY floor(list_dot_product(a.v, b.v)
                                    / (a.nrm * b.nrm) * 1e6) / 1e6 DESC,
                                    b.vec_id ASC) AS rank
                FROM vecs a, vecs b
                WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
            ) WHERE rank <= {TOP_K}
        ),
        per_dim AS ({blocks})
        SELECT dim, total_k, total_found,
               floor(total_found * 1e6 / total_k) / 1e6 AS recall_micro
        FROM per_dim ORDER BY dim
        """
    )(
        " UNION ALL ".join(
            f"""
            SELECT {d} AS dim,
                   CAST(COUNT(*) AS BIGINT) AS total_k,
                   CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS total_found
            FROM exact_topk e LEFT JOIN (
                SELECT probe_id, neighbor_id FROM (
                    SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY a.vec_id
                               ORDER BY floor(
                                   list_dot_product(a.v[1:{d}], b.v[1:{d}])
                                   / (sqrt(list_dot_product(a.v[1:{d}],
                                                            a.v[1:{d}]))
                                      * sqrt(list_dot_product(b.v[1:{d}],
                                                              b.v[1:{d}])))
                                   * 1e6) / 1e6 DESC,
                                   b.vec_id ASC) AS rank
                    FROM vecs a, vecs b
                    WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
                ) WHERE rank <= {TOP_K}
            ) t ON e.probe_id = t.probe_id
               AND e.neighbor_id = t.neighbor_id
            """
            for d in MRL_DIMS
        )
    ),
    "embedding_norm_outliers": """
        WITH vecs AS (
            SELECT vec_id,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
            FROM embeddings
        ),
        ranked AS (
            SELECT vec_id, norm,
                   ROW_NUMBER() OVER (ORDER BY norm, vec_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM vecs
        ),
        bounds AS (
            SELECT MAX(CASE WHEN rn = CAST(ceil(n * 0.01) AS BIGINT) THEN norm END) AS p01,
                   MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN norm END) AS p99
            FROM ranked
        )
        SELECT vec_id,
               floor(norm * 1e6) / 1e6 AS norm,
               norm < p01 AS is_low,
               norm > p99 AS is_high
        FROM ranked CROSS JOIN bounds
        WHERE norm < p01 OR norm > p99
        ORDER BY vec_id
    """,
    "embedding_dim_stats": """
        WITH ex AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        stats0 AS (
            SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY pos
        ),
        q AS (
            SELECT vec_id, pos,
                   CAST(least(255, floor((v - mn) * 255 / (mx - mn))) AS INT) AS c
            FROM ex JOIN stats0 USING (pos)
        ),
        stats AS (
            SELECT pos, COUNT(*) AS n,
                   SUM(c) AS s1, SUM(c * c) AS s2,
                   COUNT(DISTINCT c) AS n_levels
            FROM q GROUP BY pos
        )
        SELECT pos,
               CAST(n_levels AS BIGINT) AS n_levels,
               floor((s2 / CAST(n AS DOUBLE)
                      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))) * 1e4) / 1e4 AS code_variance,
               n_levels <= 2 AS is_dead
        FROM stats
        ORDER BY pos
    """,
    "embedding_code_dups": """
        WITH ex AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        stats AS (
            SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY pos
        ),
        q AS (
            SELECT vec_id, pos,
                   CAST(least(255, floor((v - mn) * 255 / (mx - mn))) AS INT) AS code
            FROM ex JOIN stats USING (pos)
        ),
        digests AS (
            SELECT vec_id,
                   md5(array_to_string(list(CAST(code AS VARCHAR) ORDER BY pos), ',')) AS digest
            FROM q GROUP BY vec_id
        ),
        groups AS (
            SELECT digest, COUNT(*) AS n, MIN(vec_id) AS keep_id
            FROM digests GROUP BY digest
        )
        SELECT COUNT(*) AS n_unique_codes,
               CAST(SUM(n) AS BIGINT) AS n_vectors,
               CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_dup_vectors,
               MAX(n) AS max_group
        FROM groups
    """,
    "embedding_quantize": """
        WITH ex AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        stats AS (
            SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY pos
        ),
        q AS (
            SELECT vec_id, pos,
                   CAST(least(255, floor((v - mn) * 255 / (mx - mn))) AS INT) AS code
            FROM ex JOIN stats USING (pos)
        )
        SELECT vec_id, list(code ORDER BY pos) AS codes
        FROM q GROUP BY vec_id ORDER BY vec_id
    """,
    "sim_search_bruteforce": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM pairs
        )
        SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY probe_id, rank
    """,
    "embedding_topk_margin": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM pairs
        ),
        piv AS (
            SELECT probe_id,
                   CAST(MAX(CASE WHEN rank = 1 THEN neighbor_id END)
                        AS BIGINT) AS nn1_id,
                   MAX(CASE WHEN rank = 1 THEN cosine END) AS cos1,
                   MAX(CASE WHEN rank = 2 THEN cosine END) AS cos2
            FROM ranked WHERE rank <= 2 GROUP BY probe_id
        )
        SELECT probe_id, nn1_id,
               floor((1.0 - cos1) * 1e6) / 1e6 AS d1,
               floor((1.0 - cos2) * 1e6) / 1e6 AS d2,
               floor((1.0 - cos1) / NULLIF(1.0 - cos2, 0) * 1e6) / 1e6
                   AS ratio,
               floor((1.0 - cos1) / NULLIF(1.0 - cos2, 0) * 1e6) / 1e6
                   < {MARGIN_RATIO_MAX} AS is_reliable
        FROM piv
        ORDER BY probe_id
    """,
    "sim_search_lsh": f"""
        WITH {lsh_bucket_cte()},
        pairs AS (
            SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
            WHERE a.vec_id < {N_PROBES}
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM pairs
        )
        SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY probe_id, rank
    """,
    # Exact SQL twin of the IVF path: the quantizer is the first
    # IVF_CELLS corpus vectors normalized, cell assignment is argmax
    # dot-product (score desc, cell asc on ties — mirroring the stable
    # argsort), probes search their N_PROBE_CELLS best cells.
    "sim_search_ivf_imbalance": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        seeds AS (
            SELECT vec_id AS cell, list_transform(v, x -> x / nrm) AS sv
            FROM vecs WHERE vec_id < {IVF_CELLS}
        ),
        scores AS (
            SELECT v.vec_id, s.cell, list_dot_product(v.v, s.sv) AS score
            FROM vecs v CROSS JOIN seeds s
        ),
        homes AS (
            SELECT vec_id, cell
            FROM (SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY score DESC,
                                                     cell ASC) AS crank
                  FROM scores)
            WHERE crank = 1
        ),
        per_cell AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
            FROM homes GROUP BY cell
        ),
        tot AS (
            SELECT CAST(SUM(n_vectors) AS DOUBLE) AS total FROM per_cell
        ),
        shared AS (
            SELECT cell, n_vectors,
                   CAST(n_vectors AS DOUBLE) / total AS share_d
            FROM per_cell CROSS JOIN tot
        ),
        imb AS (
            SELECT {float(IVF_CELLS)} * CAST(SUM(
                       CAST(share_d * share_d AS DECIMAL(38,18)))
                   AS DOUBLE) AS imb
            FROM shared
        )
        SELECT cell, n_vectors,
               floor(share_d * 1e6) / 1e6 AS share,
               floor(imb * 1e6) / 1e6 AS imbalance_factor
        FROM shared CROSS JOIN imb
        ORDER BY cell
    """,
    "sim_search_ivf": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        seeds AS (
            SELECT vec_id AS cell, list_transform(v, x -> x / nrm) AS sv
            FROM vecs WHERE vec_id < {IVF_CELLS}
        ),
        scores AS (
            SELECT v.vec_id, s.cell, list_dot_product(v.v, s.sv) AS score
            FROM vecs v CROSS JOIN seeds s
        ),
        ranked_cells AS (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cell ASC) AS crank
            FROM scores
        ),
        corpus AS (
            SELECT v.vec_id, v.v, v.nrm, rc.cell
            FROM vecs v JOIN ranked_cells rc
              ON v.vec_id = rc.vec_id AND rc.crank = 1
        ),
        probes AS (
            SELECT v.vec_id AS probe_id, v.v AS pv, v.nrm AS pnorm, rc.cell
            FROM vecs v JOIN ranked_cells rc ON v.vec_id = rc.vec_id
            WHERE v.vec_id < {N_PROBES} AND rc.crank <= {N_PROBE_CELLS}
        ),
        cands AS (
            SELECT p.probe_id, c.vec_id AS neighbor_id,
                   floor(list_dot_product(p.pv, c.v) / (p.pnorm * c.nrm) * 1e6) / 1e6 AS cosine
            FROM probes p JOIN corpus c
              ON p.cell = c.cell AND p.probe_id <> c.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM cands
        )
        SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY probe_id, rank
    """,
    "sim_search_filtered": f"""
        WITH vecs AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   a.label = b.label AS same_label,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        pre AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT probe_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM pairs WHERE same_label
            ) WHERE rank <= {TOP_K}
        ),
        post AS (
            SELECT probe_id, neighbor_id, 1 AS kept FROM (
                SELECT probe_id, neighbor_id, same_label,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM pairs
            ) WHERE rank <= {TOP_K} AND same_label
        )
        SELECT p.probe_id,
               CAST(COUNT(*) AS BIGINT) AS n_prefilter,
               CAST(SUM(COALESCE(q.kept, 0)) AS BIGINT)
                   AS n_postfilter_hits,
               floor(CAST(SUM(COALESCE(q.kept, 0)) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) * 1e6) / 1e6
                   AS postfilter_recall
        FROM pre p LEFT JOIN post q
          ON p.probe_id = q.probe_id AND p.neighbor_id = q.neighbor_id
        GROUP BY p.probe_id
        ORDER BY p.probe_id
    """,
    "sim_search_ivf_nprobe_curve": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        seeds AS (
            SELECT vec_id AS cell, list_transform(v, x -> x / nrm) AS sv
            FROM vecs WHERE vec_id < {IVF_CELLS}
        ),
        cscores AS (
            SELECT v.vec_id, s.cell, list_dot_product(v.v, s.sv) AS score
            FROM vecs v CROSS JOIN seeds s
        ),
        ranked_cells AS (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cell ASC) AS crank
            FROM cscores
        ),
        corpus AS (
            SELECT v.vec_id, v.v, v.nrm, rc.cell
            FROM vecs v JOIN ranked_cells rc
              ON v.vec_id = rc.vec_id AND rc.crank = 1
        ),
        probes AS (
            SELECT v.vec_id AS probe_id, v.v AS pv, v.nrm AS pnorm,
                   rc.cell, rc.crank AS cell_rank
            FROM vecs v JOIN ranked_cells rc ON v.vec_id = rc.vec_id
            WHERE v.vec_id < {N_PROBES}
              AND rc.crank <= {max(IVF_NPROBE_CURVE)}
        ),
        cands AS (
            SELECT p.probe_id, c.vec_id AS neighbor_id, p.cell_rank,
                   floor(list_dot_product(p.pv, c.v)
                         / (p.pnorm * c.nrm) * 1e6) / 1e6 AS cosine
            FROM probes p JOIN corpus c
              ON p.cell = c.cell AND p.probe_id <> c.vec_id
        ),
        nps AS (SELECT unnest([{", ".join(str(p) for p in IVF_NPROBE_CURVE)}]) AS nprobe),
        approx AS (
            SELECT nprobe, probe_id, neighbor_id, 1 AS hit FROM (
                SELECT n.nprobe, c.probe_id, c.neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY n.nprobe, c.probe_id
                           ORDER BY c.cosine DESC, c.neighbor_id ASC) AS rank
                FROM cands c JOIN nps n ON c.cell_rank <= n.nprobe
            ) WHERE rank <= {TOP_K}
        ),
        epairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        exact AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM epairs
            ) WHERE rank <= {TOP_K}
        )
        SELECT n.nprobe,
               CAST(COUNT(DISTINCT e.probe_id) AS BIGINT) AS n_probes,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS found,
               floor(CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) * 1e6) / 1e6
                   AS mean_recall
        FROM exact e CROSS JOIN nps n
        LEFT JOIN approx a
          ON a.nprobe = n.nprobe AND a.probe_id = e.probe_id
         AND a.neighbor_id = e.neighbor_id
        GROUP BY n.nprobe
        ORDER BY n.nprobe
    """,
    "embedding_hard_negatives": f"""
        WITH vecs AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS probe_id, a.label AS probe_label,
                   b.vec_id AS neighbor_id, b.label AS neighbor_label,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.label <> b.label
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM pairs
        )
        SELECT probe_id, probe_label, neighbor_id, neighbor_label,
               cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY probe_id, rank
    """,
    # Recall@k of the LSH path vs exact top-k: the same two candidate
    # pipelines composed — `vecs` from the LSH CTE chain serves both.
    "embedding_intrinsic_dim": f"""
        WITH vecs AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   greatest(a.nrm * a.nrm + b.nrm * b.nrm
                            - 2.0 * list_dot_product(a.v, b.v), 0.0)
                     AS dist2
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        top2 AS (
            SELECT probe_id, dist2, rnk FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                    ORDER BY dist2 ASC, neighbor_id ASC) AS rnk
                FROM pairs
            ) WHERE rnk <= 2
        ),
        ratios AS (
            SELECT CAST(0.5 * ln(
                     MAX(CASE WHEN rnk = 2 THEN dist2 END)
                     / MAX(CASE WHEN rnk = 1 THEN dist2 END))
                   AS DECIMAL(38,6)) AS lr
            FROM top2 GROUP BY probe_id
            HAVING MAX(CASE WHEN rnk = 1 THEN dist2 END) > 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               floor(CAST(COUNT(*) AS DOUBLE)
                     / CAST(SUM(lr) AS DOUBLE) * 1e6) / 1e6
                 AS intrinsic_dim
        FROM ratios
    """,
    "embedding_mmd_drift": f"""
        WITH split AS (
            SELECT MAX(vec_id) * {MMD_SPLIT_FRAC!r} AS cut
            FROM embeddings
        ),
        dims AS (
            SELECT (e.vec_id <= s.cut) AS is_ref, d.dim,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(e.embedding[d.dim + 1] AS DECIMAL(38,18)))
                     AS sm
            FROM embeddings e
            CROSS JOIN split s
            CROSS JOIN (SELECT unnest(generate_series(0, {EMB_DIM - 1}))
                        AS dim) d
            GROUP BY 1, 2
        ),
        ref AS (
            SELECT dim, CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS m_ref,
                   n AS n_ref
            FROM dims WHERE is_ref
        ),
        cur AS (
            SELECT dim, CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS m_cur,
                   n AS n_cur
            FROM dims WHERE NOT is_ref
        ),
        folded AS (
            SELECT n_ref, n_cur,
                   SUM(CAST((m_ref - m_cur) * (m_ref - m_cur)
                        AS DECIMAL(38,18))) AS mmd2,
                   MAX(CAST(abs(m_ref - m_cur) AS DECIMAL(38,18)))
                     AS max_gap
            FROM ref JOIN cur USING (dim)
            GROUP BY n_ref, n_cur
        )
        SELECT n_ref, n_cur,
               floor(CAST(mmd2 AS DOUBLE) * 1e3 * 1e6) / 1e6
                 AS mmd2_x1e3,
               floor(CAST(max_gap AS DOUBLE) * 1e3 * 1e6) / 1e6
                 AS max_dim_gap_x1e3
        FROM folded
    """,
    "embedding_knn_eval": f"""
        WITH vecs AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        exact_pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   b.label AS nb_label,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        topk AS (
            SELECT probe_id, neighbor_id, nb_label FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM exact_pairs
            ) WHERE rank <= {TOP_K}
        ),
        votes AS (
            SELECT probe_id, nb_label,
                   CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM topk GROUP BY probe_id, nb_label
        ),
        pred AS (
            SELECT probe_id, nb_label AS pred_label, n_votes FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY n_votes DESC, nb_label ASC) AS rnk
                FROM votes
            ) WHERE rnk = 1
        )
        SELECT p.probe_id, t.label AS true_label, p.pred_label,
               p.n_votes, t.label = p.pred_label AS correct
        FROM pred p JOIN vecs t ON p.probe_id = t.vec_id
        ORDER BY p.probe_id
    """,
    "sim_search_ndcg": f"""
        WITH {lsh_bucket_cte()},
        exact_pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        exact_topk AS (
            SELECT probe_id, neighbor_id,
                   {TOP_K + 1} - rank AS rel, rank AS erank
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM exact_pairs
            ) WHERE rank <= {TOP_K}
        ),
        idcg AS (
            SELECT probe_id,
                   SUM(CAST(CAST(rel AS DOUBLE)
                            / (ln(CAST(erank + 1 AS DOUBLE)) / ln(2.0))
                        AS DECIMAL(38,6))) AS idcg
            FROM exact_topk GROUP BY probe_id
        ),
        lsh_pairs AS (
            SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
            WHERE a.vec_id < {N_PROBES}
        ),
        lsh_topk AS (
            SELECT probe_id, neighbor_id, rank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM lsh_pairs
            ) WHERE rank <= {TOP_K}
        ),
        dcg AS (
            SELECT l.probe_id,
                   SUM(CAST(CAST(COALESCE(e.rel, 0) AS DOUBLE)
                            / (ln(CAST(l.rank + 1 AS DOUBLE)) / ln(2.0))
                        AS DECIMAL(38,6))) AS dcg
            FROM lsh_topk l
            LEFT JOIN exact_topk e
              ON l.probe_id = e.probe_id AND l.neighbor_id = e.neighbor_id
            GROUP BY l.probe_id
        )
        SELECT i.probe_id,
               floor(CAST(COALESCE(d.dcg, 0) AS DOUBLE) * 1e6) / 1e6 AS dcg,
               floor(CAST(COALESCE(d.dcg, 0) AS DOUBLE)
                     / CAST(i.idcg AS DOUBLE) * 1e6) / 1e6 AS ndcg
        FROM idcg i LEFT JOIN dcg d ON i.probe_id = d.probe_id
        ORDER BY i.probe_id
    """,
    "sim_search_recall_curve": f"""
        WITH {lsh_bucket_cte()},
        exact_pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        exact_rk AS (
            SELECT probe_id, neighbor_id, rank AS erank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM exact_pairs
            ) WHERE rank <= {TOP_K}
        ),
        lsh_pairs AS (
            SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
            WHERE a.vec_id < {N_PROBES}
        ),
        lsh_rk AS (
            SELECT probe_id, neighbor_id, rank AS arank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM lsh_pairs
            ) WHERE rank <= {TOP_K}
        ),
        base AS (
            SELECT e.probe_id, e.erank, l.arank
            FROM exact_rk e LEFT JOIN lsh_rk l
              ON e.probe_id = l.probe_id AND e.neighbor_id = l.neighbor_id
        ),
        swept AS (
            SELECT b.*, k.k
            FROM base b,
                 (SELECT unnest([{", ".join(str(k) for k in RECALL_KS)}]) AS k) k
            WHERE b.erank <= k.k
        )
        SELECT k,
               CAST(COUNT(DISTINCT probe_id) AS BIGINT) AS n_probes,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN arank <= k THEN 1 ELSE 0 END) AS BIGINT)
                   AS found,
               floor(CAST(SUM(CASE WHEN arank <= k THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e6)
                   / 1e6 AS mean_recall
        FROM swept
        GROUP BY k
        ORDER BY k
    """,
    "sim_search_recall": f"""
        WITH {lsh_bucket_cte()},
        exact_pairs AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM vecs a, vecs b
            WHERE a.vec_id < {N_PROBES} AND a.vec_id <> b.vec_id
        ),
        exact_topk AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM exact_pairs
            ) WHERE rank <= {TOP_K}
        ),
        lsh_pairs AS (
            SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM bucketed a JOIN bucketed b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
            WHERE a.vec_id < {N_PROBES}
        ),
        lsh_topk AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                             ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM lsh_pairs
            ) WHERE rank <= {TOP_K}
        )
        SELECT e.probe_id,
               COUNT(*) AS k,
               CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS found,
               floor(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1e6 / COUNT(*)) / 1e6 AS recall
        FROM exact_topk e
        LEFT JOIN lsh_topk l
          ON e.probe_id = l.probe_id AND e.neighbor_id = l.neighbor_id
        GROUP BY e.probe_id
        ORDER BY e.probe_id
    """,
}
