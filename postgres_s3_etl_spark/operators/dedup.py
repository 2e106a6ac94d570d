"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.4): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup — over ``documents`` / ``embeddings``.

Cross-engine determinism: every hash is md5 (identical in Spark and
DuckDB); every float emitted is truncated via floor(x*1e6)/1e6 (pure
double ops — no decimal-rounding ambiguity).

Scale design — the whole point of these operators:
- Exact dedup is one hash shuffle on the 16-byte digest, never on
  the raw text.
- Jaccard/MinHash/SimHash candidate generation NEVER does an O(n²)
  cross join: pairs come from equi-joins on shingle / band-bucket /
  simhash-prefix keys, so the shuffle key bounds the blow-up. At
  100 TB the band-bucket join is the standard LSH trick: ~n·bands
  rows shuffled, near-dup pairs only.
- Embedding near-dup blocks by ``label`` (stand-in for an IVF/
  cluster assignment) so each block's pair count is bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from postgres_s3_etl_spark.catalog import load_table, table_row_count
from postgres_s3_etl_spark.operators.graph import connected_components
from postgres_s3_etl_spark.operators.similarity import (
    lsh_bucket_cte,
    sig_cte_sql,
)
from postgres_s3_etl_spark.operators.python_lane import (
    repartition_for_grouped_python,
)

NUM_MINHASHES = 16
LSH_BANDS = 4  # 4 rows per band
SIMHASH_BITS = 60  # 15 md5 hex chars -> fits signed BIGINT exactly
SIMHASH_MAX_HAMMING = 6
#: Pigeonhole chunking of the 60 bits: hamming <= 6 flips at most 6
#: chunks, so with 7 chunks at least one survives intact and an
#: equi-join on (chunk_id, chunk_value) finds every qualifying pair.
#: Widths 4x9 + 3x8 bits: the widest buckets the 7-chunk constraint
#: allows. Selectivity is what bounds the candidate join at scale —
#: a w-bit chunk pairs random docs with prob 2^-w, so candidates
#: ~ sum_c n^2/2^(w_c+1); the r5 scaling run measured the old 32-bit
#: 4-bit-chunk layout at alpha=1.25 (n^2/16 per chunk) and this
#: layout returns it to linear at the same recall guarantee.
SIMHASH_CHUNKS = tuple(
    (i, off, w)
    for i, (off, w) in enumerate(
        zip((0, 9, 18, 27, 36, 44, 52), (9, 9, 9, 9, 8, 8, 8))
    )
)
TOP_PAIRS = 20


def _trunc6(col: Column) -> Column:
    return F.floor(col * 1e6) / 1e6


def _words_col() -> Column:
    """Whitespace word array of ``text``. Materialized as its own
    projection before shingling: Catalyst does NOT common-subexpression
    the split inside higher-order-function lambdas, so inlining it
    re-splits every document once per lambda reference (~6× slower)."""
    return F.split(F.trim("text"), r"\s+")


def _shingles_expr(words: str = "w") -> Column:
    """Distinct word 3-gram shingles over a pre-split word array."""
    return F.array_distinct(
        F.expr(
            f"""
            transform(
                sequence(1, greatest(size({words}) - 2, 1)),
                i -> concat_ws(' ', slice({words}, i, 3))
            )
            """
        )
    )


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level exact-dedup stats for any (doc_id, text) frame."""
    groups = (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_id"))
    )
    return groups.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5(lower(trim(text))): corpus-level stats.

    One shuffle on the digest; representative = min doc_id per group
    (the row a keep-first policy would retain).
    """
    return exact_dedup_stats(load_table(spark, sf_dir, "documents"))


#: Drop shingles appearing in more than this many docs of a block
#: before the candidate self-join — the standard frequent-shingle
#: filter. A shingle with document frequency f produces O(f²) pairs,
#: so one boilerplate 3-gram ("all rights reserved") would otherwise
#: blow the join up quadratically at corpus scale.
MAX_SHINGLE_DF = 50


def ngram_jaccard_pairs(docs: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """All candidate doc pairs with their word-3-gram Jaccard over the
    DF-capped shingle universe, within (lang, source) blocks.

    Pairs come from an equi-join on the shingle itself — only docs
    sharing ≥1 kept shingle ever meet — and the DF cap bounds each
    shingle's contribution to max_df² pairs. Jaccard is computed over
    the kept-shingle sets (rare-shingle Jaccard): self-consistent and
    near-identical to full Jaccard for true near-dups, which share
    mostly rare shingles.

    Plan shape: the kept-shingle table is persisted — the self-join
    reads it twice and the per-doc sizes twice more, and without the
    cache each branch would re-split, re-shingle and re-window the
    whole corpus (the same recompute trap the minhash band table
    avoids the same way).
    """
    shingled = docs.select(
        "doc_id", "lang", "source", _words_col().alias("w")
    ).select("doc_id", "lang", "source", _shingles_expr().alias("shingles"))
    # Shuffle a 60-bit md5-prefix of each shingle, not the string:
    # the window and self-join keys shrink from ~30-byte text to one
    # long (collisions merge shingles at ~2^-60 — negligible, and the
    # oracle hashes identically so both engines see the same universe).
    exploded = shingled.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.expr(
                "transform(shingles, s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))"
            )
        ).alias("sh"),
    )
    # DF cap via groupBy + semi-join rather than a count window over
    # the exploded postings: the groupBy gets map-side partial
    # aggregation (the shuffle carries one row per distinct shingle,
    # not per posting), which the window formulation cannot do.
    rare = (
        exploded.groupBy("lang", "source", "sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .drop("df")
    )
    kept = exploded.join(rare, ["lang", "source", "sh"], "left_semi").persist()
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.alias("a")
    b = kept.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, common.doc_a == F.col("sa.doc_id"))
        .join(sb, common.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
            _trunc6(
                F.col("n_common")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar doc pairs by DF-capped word-3-gram Jaccard
    within (lang, source) blocks (see ngram_jaccard_pairs)."""
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    return (
        ngram_jaccard_pairs(docs)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(TOP_PAIRS)
    )


def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 doc pairs by MAX-CONTAINMENT over the DF-capped shingle
    universe: C(a, b) = |Sₐ∩S_b| / min(|Sₐ|, |S_b|) — the asymmetric
    near-dup measure (Broder's containment) that catches subset and
    truncation duplicates Jaccard under-weights: a short doc fully
    contained in a 10× longer one scores C = 1.0 but a tiny Jaccard.
    The set-level complement to ``dedup_prefix_containment``'s
    literal-prefix rule (detects contained CONTENT even when it is
    not a character prefix).

    Scale shape: identical to ``dedup_ngram_jaccard`` — pairs meet
    only through a shared kept shingle (equi-join; the DF cap bounds
    every shingle's pair fan-out at max_df²), sizes join back on the
    doc key, the final top-k is a TakeOrderedAndProject.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    return (
        ngram_jaccard_pairs(docs)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            _trunc6(
                F.col("n_common") / F.least("n_a", "n_b")
            ).alias("containment"),
        )
        .orderBy(F.desc("containment"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(TOP_PAIRS)
    )


# Universal-hash minhash family h_j(x) = (A[j]·x + B[j]) mod P over a
# 28-bit shingle digest x. One md5 per shingle; the 16 permutations
# are integer multiply-adds that stay inside whole-stage codegen in
# Spark and vectorize in DuckDB — the classic (a·x+b) mod p MinHash
# construction, identical in both engines so oracles hash-match.
MINHASH_P = 4_294_967_311  # prime > 2^32
MINHASH_A = tuple((2_654_435_761 * (j + 1)) % 2_147_483_647 for j in range(NUM_MINHASHES))
MINHASH_B = tuple((97_531 * (j + 1)) % MINHASH_P for j in range(NUM_MINHASHES))


def minhash_sig_for(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15) minhash signature for any (doc_id, text)
    frame, entirely row-local: shingles → 28-bit md5 digests (ONE md5
    per shingle) → 16 universal-hash ``array_min`` passes. Widened if
    the input is a single small file (round-11): one md5 per shingle
    plus 16 hash passes is the per-row compute-heavy stage of every
    MinHash consumer, and the driver's sf0.1 documents table arrives
    as ONE parquet partition — without widening the whole family runs
    its map phase single-task locally (no-op on a real cluster where
    the scan is already parallel)."""
    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    sh = widen_if_narrow(docs, "doc_id").select(
        "doc_id", _words_col().alias("w")
    ).select("doc_id", _shingles_expr().alias("shingles"))
    # 28-bit digest: 7 hex chars keep A[j]·h + B[j] far inside int64.
    hs = sh.select(
        "doc_id",
        F.expr(
            "transform(shingles, s -> cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint))"
        ).alias("hs"),
    )
    return hs.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(hs, h -> ({MINHASH_A[j]}L * h + {MINHASH_B[j]}L) % {MINHASH_P}L))"
            ).alias(f"mh{j}")
            for j in range(NUM_MINHASHES)
        ],
    )


def _band_rows(sig: DataFrame, n_bands: int) -> DataFrame:
    """(doc_id, band, bucket) from a signature frame at ``n_bands``
    bands × 16/n_bands rows — the banding step factored out so the
    tradeoff sweep can re-band one signature scan."""
    rows_per_band = NUM_MINHASHES // n_bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_bands_for(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH rows for any (doc_id, text) frame
    at the standing (LSH_BANDS × rows) configuration — see
    minhash_sig_for / _band_rows. No explode and no aggregation
    shuffle before the band join: a minhash signature is a
    per-document map step, so at any scale the only shuffle in the
    whole operator is the band-bucket equi-join.
    """
    return _band_rows(minhash_sig_for(docs), LSH_BANDS)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: 16 universal-hash minhashes → 4 bands ×
    4 rows → band-bucket equi-join → candidate pairs ranked by #shared
    bands. Candidate generation shuffles n·bands small rows, never
    pairs; the signature is persisted so the self-join reads it once
    instead of recomputing the shingle scan per side. The repartition
    spreads documents across cores before hashing: parquet splits are
    sized by bytes, and a compute-heavy text column packed into few
    splits (or AQE-coalesced to one) would serialize the signatures.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    bands = minhash_bands_for(docs).persist()
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .orderBy(F.desc("n_shared_bands"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(50)
    )


#: Jaccard thresholds for the LSH precision/recall curve.
PR_TAUS = (0.2, 0.4, 0.6, 0.8)

#: Banding configurations to sweep: (bands, rows) with bands·rows =
#: NUM_MINHASHES. More bands → lower s-curve threshold → more
#: candidates (recall↑, precision↓).
BANDING_CONFIGS = (2, 4, 8)


def dedup_banding_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding tuning table: for b ∈ {2, 4, 8} bands over
    the SAME 16 minhashes, the implied detection threshold
    τ* = (1/b)^(1/r) (the s-curve midpoint — pairs above it are
    likely candidates) and the measured candidate-pair count — the
    b×r operating-point sweep run before fixing a banding config,
    next to ``dedup_lsh_pr_curve``'s quality numbers at the standing
    point.

    Scale shape: ONE signature scan (row-local minhashes), re-banded
    three ways (constant fan-out); each config's candidate count is
    a band-bucket equi-join + distinct — the same bounded join as
    the production candidate generator, never all-pairs.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    sig = minhash_sig_for(docs).persist()
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    outs = []
    for nb in BANDING_CONFIGS:
        rpb = NUM_MINHASHES // nb
        bands = _band_rows(sig, nb)
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        outs.append(
            cand.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
            ).select(
                F.lit(nb).alias("n_bands"),
                F.lit(rpb).alias("rows_per_band"),
                f6(
                    F.pow(F.lit(1.0) / F.lit(float(nb)),
                          F.lit(1.0) / F.lit(float(rpb)))
                ).alias("est_threshold"),
                "n_candidate_pairs",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("n_bands")


def dedup_lsh_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate generator
    against exact (rare-shingle) Jaccard ground truth, per
    threshold τ — the eval-as-operator gate for the dedup family
    (sibling of sim_search_recall): before trusting banding at a new
    (bands, rows) point, measure what fraction of candidates are
    real dups (precision) and what fraction of real dups the bands
    surface (recall). Ground truth is the DF-capped shingle-join
    pair set — every pair sharing ≥1 rare shingle, a superset of
    meaningful near-dups at these τ; LSH candidates outside it share
    no rare shingle, i.e. true Jaccard ≈ 0, and count against
    precision.

    Scale shape: both pair sets come from bounded equi-joins
    (band-bucket; DF-capped shingle postings) — never all-pairs; the
    eval is one full-outer join of the two pair frames + a 4-way τ
    fan-out of one rollup.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    bands = minhash_bands_for(docs).persist()
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .withColumn("is_cand", F.lit(1))
    )
    gt = ngram_jaccard_pairs(docs).select("doc_a", "doc_b", "jaccard")
    base = gt.join(cand, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("jaccard", F.lit(0.0)).alias("j"),
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    # τ fan-out as a row-local literal-array explode (a 4-row Expand,
    # no join/broadcast — the audit-clean way to sweep constants)
    stats = (
        base.withColumn(
            "tau",
            F.explode(F.array(*[F.lit(float(t)) for t in PR_TAUS])),
        )
        .groupBy("tau")
        .agg(
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("j") >= F.col("tau"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_true_pairs"),
            F.sum(
                F.when(
                    (F.col("j") >= F.col("tau")) & (F.col("is_cand") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
        )
    )
    return stats.select(
        "tau",
        "n_candidates",
        "n_true_pairs",
        "tp",
        f6(
            F.when(
                F.col("n_candidates") > 0,
                F.col("tp").cast("double")
                / F.col("n_candidates").cast("double"),
            )
        ).alias("precision"),
        f6(
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("tp").cast("double")
                / F.col("n_true_pairs").cast("double"),
            )
        ).alias("recall"),
    ).orderBy("tau")


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source leakage audit: for every source pair, how many
    exact-duplicate text digests they share — the governance matrix
    that tells you which feeds copy from each other (and whether a
    "held-out" source actually is).

    Plan: distinct (digest, source) rollup, then a self-equi-join on
    the digest — pair volume is bounded by per-digest source counts
    (≤ |sources|² per digest), never corpus-quadratic; one digest
    shuffle feeds both sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    # persist: both self-join sides read the digest rollup — without
    # it the full-text md5 + distinct runs twice (round-14 audit).
    ds = (
        docs.select(
            F.md5(F.lower(F.trim("text"))).alias("digest"), "source"
        )
        .distinct()
        .persist()
    )
    a, b = ds.alias("a"), ds.alias("b")
    return (
        a.join(
            b,
            (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_digests"))
        .orderBy("source_a", "source_b")
    )


VERIFY_JACCARD_T = 0.8


def dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify stage of two-stage fuzzy dedup, as one operator:
    MinHash-LSH candidate pairs (stage 1, band-bucket equi-join)
    re-checked with their EXACT shingle Jaccard (stage 2) — the
    standard candidate→verify pipeline that keeps LSH's recall while
    discarding its false positives before any merge decision.

    Scale shape: the candidate set is the verify input, so stage-2
    cost is per-candidate, not per-corpus. The candidate frame is
    tiny (top-50 here; band-bounded in general) and broadcasts into
    both shingle-set joins — the corpus-sized shingle table is read
    without shuffling, and the exact intersection/union runs
    row-locally on the joined pair.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    bands = minhash_bands_for(docs).persist()
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .orderBy(F.desc("n_shared_bands"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(TOP_PAIRS)
    )
    sh = docs.select("doc_id", _words_col().alias("w")).select(
        "doc_id", _shingles_expr().alias("shingles")
    )
    j = F.floor(
        F.size(F.array_intersect("sa", "sb"))
        * 1e6
        / F.size(F.array_union("sa", "sb"))
    ) / 1e6
    return (
        F.broadcast(cands)
        .join(sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            j.alias("jaccard"),
            (j >= VERIFY_JACCARD_T).alias("is_dup"),
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_minhash_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-estimator calibration: for the standing top candidate
    pairs, the SIGNATURE-level Jaccard estimate (matching minhash
    components / 16 — the unbiased estimator the sketch is built on)
    next to the EXACT shingle Jaccard and the absolute error — the
    measure-don't-guess table that tells you whether 16 hashes are
    enough before trusting estimator-only thresholds at scale (the
    estimator's σ = sqrt(J(1−J)/16) ≈ 0.12 at J = 0.5; more hashes
    buy precision, this table shows what 16 actually deliver).

    Scale shape: rides the same band-bucket candidate generation and
    broadcast-verify joins as ``dedup_minhash_verify``; the
    component-match count is a row-local 16-term integer fold over
    the two joined signatures.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    sig = minhash_sig_for(docs).persist()
    bands = _band_rows(sig, LSH_BANDS)
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .orderBy(F.desc("n_shared_bands"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(TOP_PAIRS)
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_MINHASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_MINHASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(NUM_MINHASHES)
    ).cast("bigint")
    sh = docs.select("doc_id", _words_col().alias("w")).select(
        "doc_id", _shingles_expr().alias("shingles")
    )
    jac = F.floor(
        F.size(F.array_intersect("sa_sh", "sb_sh"))
        * 1e6
        / F.size(F.array_union("sa_sh", "sb_sh"))
    ) / 1e6
    out = (
        F.broadcast(cands)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_match_sig"))
        .join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa_sh")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb_sh")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_match_sig",
            (
                F.floor(
                    F.col("n_match_sig") * 1e6 / F.lit(NUM_MINHASHES)
                )
                / 1e6
            ).alias("est_jaccard"),
            jac.alias("jaccard"),
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        "n_match_sig",
        "est_jaccard",
        "jaccard",
        (
            F.floor(F.abs(F.col("est_jaccard") - F.col("jaccard")) * 1e6)
            / 1e6
        ).alias("abs_err"),
    ).orderBy("doc_a", "doc_b")


def dedup_cc_keepset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup keep-set: LSH candidate pairs → union
    into connected components (iterative min-label propagation) →
    corpus keep/drop accounting.

    This is the full shape of a production training-data dedup: LSH
    finds the near-dup graph, components group transitive duplicates,
    one representative (the min doc_id label) survives per group.
    Label propagation (:func:`graph.connected_components`) is the
    standard distributed CC algorithm — each round is one join + one
    min-aggregate over the EDGE nodes only (a vanishing fraction of
    the corpus), ``localCheckpoint`` truncates the growing lineage,
    and the loop stops at the first round that changes no label
    (at most diameter + 1 rounds). The driver sees only a per-round scalar;
    all real work stays distributed.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    bands = minhash_bands_for(docs.select("doc_id", "text")).persist()
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    edges = pairs.union(pairs.select(F.col("dst"), F.col("src"))).persist()
    try:
        labels = connected_components(edges, "dedup_cc_keepset")
    finally:  # labels are checkpointed: release what built them
        bands.unpersist()
        edges.unpersist()
    comp_sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    # Unfiltered corpus size — parquet footer metadata, not a scan.
    n_docs = table_row_count(sf_dir, "documents")
    return comp_sizes.agg(
        F.lit(n_docs).cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_dup_groups"),
        F.sum("sz").cast("bigint").alias("n_docs_in_dup_groups"),
        (F.lit(n_docs) - (F.sum("sz") - F.count(F.lit(1))))
        .cast("bigint")
        .alias("n_kept"),
        F.max("sz").cast("bigint").alias("max_component_size"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs via pigeonhole chunk buckets.

    Per doc: tokens → one md5 each → 60-bit integer h (first 15 hex
    chars); for each bit j, sum ±1 votes over distinct tokens
    according to bit j of h; simhash sets bit j where the sum is
    positive. The entire pipeline is JVM-side whole-stage codegen:
    one md5 per token, then the 60-bit vote fold as
    ``aggregate(transform(sequence, filter))`` — bit j is set iff
    ``2·ones_j > n_tokens`` (votes = 2·ones − n, strictly positive),
    pure integer arithmetic, bit-identical to the SQL oracle with
    zero Python in the hot path (the r4 verdict flagged the previous
    per-doc pandas-UDF loop as the one Python lane on a corpus-scale
    operator). No explode, no aggregation shuffle. Pairs meet only
    inside a shared chunk bucket (see SIMHASH_CHUNKS — 8/9-bit
    chunks keep the candidate join ~linear where the old 4-bit
    chunks were n²/16); hamming ≤ 6 via bit_count(xor).
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    toks = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias("ts"),
    )
    hs = toks.select(
        "doc_id",
        F.expr(
            "transform(ts, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    sh = hs.select(
        "doc_id",
        F.expr(
            f"""aggregate(
              transform(sequence(0, {SIMHASH_BITS - 1}), j ->
                IF(2 * size(filter(hs, h ->
                       (h div cast(pow(2, j) as bigint)) % 2 = 1))
                     > size(hs),
                   cast(pow(2, j) as bigint), 0L)),
              0L, (acc, x) -> acc + x)"""
        ).alias("simhash"),
    )
    chunk_structs = ", ".join(
        f"struct({i} AS chunk, (simhash div {1 << off}L) % {1 << w} AS val)"
        for i, off, w in SIMHASH_CHUNKS
    )
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"array({chunk_structs})")).alias("cv"),
    ).select("doc_id", "simhash", "cv.chunk", "cv.val").localCheckpoint()
    a = chunks.alias("a")
    b = chunks.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        candidates.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(50)
    )


def _cosine_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct LSH-blocked near-dup candidate pairs with exact
    cosine: the shared frame behind :func:`dedup_embedding_cosine`
    and :func:`embedding_dedup_threshold_curve`. Candidates come from
    a (label, tbl, bucket) equi-join, never a per-label cross join.

    Bits per table are CORPUS-ADAPTIVE (similarity.adaptive_dedup_bits
    — the integer rule the oracle mirrors in its ``nb`` CTE): the
    round-9 honest sf10 decade measured fixed 4-bit tables at
    α(1→10)=1.92 because fixed bucket cardinality makes the pair
    frame quadratic; scaling bits to hold the expected bucket
    population at DEDUP_TARGET_BUCKET restores ~linear candidates.
    The two corpus scalars (count, label count) are the only driver
    traffic."""
    from postgres_s3_etl_spark.operators.similarity import (
        DEDUP_SIG_PLANES,
        LSH_TABLES,
        _signature,
        adaptive_dedup_bits,
    )

    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    emb = widen_if_narrow(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        ),
        "vec_id",
    )
    st = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("label").alias("l"),
    ).collect()[0]
    bits = adaptive_dedup_bits(int(st["n"]), int(st["l"] or 0))
    emb = emb.withColumn(
        "norm", F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)"))
    ).withColumn("sig", _signature("v", DEDUP_SIG_PLANES))
    # persist: the signed frame feeds both candidate-join sides —
    # without it the 56-plane signature runs twice (round-14 audit).
    emb = emb.persist()
    buckets = emb.select(
        "vec_id",
        "label",
        "v",
        "norm",
        F.explode(
            F.expr(
                f"transform(sequence(0, {LSH_TABLES - 1}), t -> struct(t AS tbl, "
                f"(sig div cast(pow(2, t * {bits}) as bigint)) % {1 << bits}L AS bucket))"
            )
        ).alias("tb"),
    ).select(
        "vec_id", "label", "v", "norm",
        F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0.0d, (s, x) -> s + x)"
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            _trunc6(dot / (F.col("a.norm") * F.col("b.norm"))).alias("cosine"),
        )
        .distinct()
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 near-duplicate embedding pairs by cosine, blocked by
    ``(label, LSH table, LSH bucket)``.

    Label alone (IVF-cluster stand-in) bounds nothing when label
    cardinality is small — O(n²/L) pairs at corpus scale. Sub-blocking
    each label by the hyperplane-LSH multi-table buckets (the same
    deterministic signature sim_search_lsh uses) caps a block at
    ~n/(L·2^bits) vectors per table, while near-dup pairs — nearly
    identical vectors — still collide in ≥1 table with high
    probability. (Pair plan: :func:`_cosine_candidate_pairs`.)
    """
    return (
        _cosine_candidate_pairs(spark, sf_dir)
        .orderBy(F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(TOP_PAIRS)
    )


#: Bits-per-table sweep for the banding cost curve.
DEDUP_BITS_SWEEP = (4, 6, 8)
#: Verify threshold for the bits curve's true-pair column.
BITS_CURVE_TAU = 0.90


def embedding_dedup_bits_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The banding COST-KNOB curve behind the round-9 adaptive-bits
    re-plan: for each bits-per-table b, the candidate-pair count the
    (label, tbl, bucket) join would generate and how many survive
    the cosine verify — the measured candidates-vs-recall tradeoff
    that justifies scaling b with the corpus
    (``adaptive_dedup_bits``). The banding twin of
    ``dedup_banding_tradeoff`` / ``sim_search_lsh_tuning``.

    Scale shape: ONE 56-plane signature scan feeds every b (bucket
    extraction is arithmetic on the shared sig); the b sweep rides
    the same equi-join with b as an extra key, so candidates only
    ever meet inside a (b, label, tbl, bucket) bucket.
    """
    from postgres_s3_etl_spark.operators.similarity import (
        DEDUP_SIG_PLANES,
        LSH_TABLES,
        _signature,
    )

    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    emb = widen_if_narrow(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        ),
        "vec_id",
    )
    emb = (
        emb.withColumn(
            "norm", F.sqrt(F.expr("aggregate(v, 0.0d, (s, x) -> s + x * x)"))
        )
        .withColumn("sig", _signature("v", DEDUP_SIG_PLANES))
        # persist: both sweep-join sides read the signed frame —
        # round-14 audit, same fix as dedup_embedding_cosine.
        .persist()
    )
    bt = ", ".join(
        f"struct({b} AS b, {t} AS tbl,"
        f" (sig div cast(pow(2, {t * b}) as bigint))"
        f" % {1 << b}L AS bucket)"
        for b in DEDUP_BITS_SWEEP
        for t in range(LSH_TABLES)
    )
    buckets = emb.select(
        "vec_id",
        "label",
        "v",
        "norm",
        F.explode(F.expr(f"array({bt})")).alias("c"),
    ).select(
        "vec_id", "label", "v", "norm",
        F.col("c.b").alias("b"),
        F.col("c.tbl").alias("tbl"),
        F.col("c.bucket").alias("bucket"),
    )
    a = buckets.alias("a")
    bb = buckets.alias("bb")
    dot = F.expr(
        "aggregate(zip_with(a.v, bb.v, (x, y) -> x * y), 0.0d,"
        " (s, x) -> s + x)"
    )
    pairs = (
        a.join(
            bb,
            (F.col("a.b") == F.col("bb.b"))
            & (F.col("a.label") == F.col("bb.label"))
            & (F.col("a.tbl") == F.col("bb.tbl"))
            & (F.col("a.bucket") == F.col("bb.bucket"))
            & (F.col("a.vec_id") < F.col("bb.vec_id")),
        )
        .select(
            F.col("a.b").alias("b"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("bb.vec_id").alias("vec_b"),
            _trunc6(
                dot / (F.col("a.norm") * F.col("bb.norm"))
            ).alias("cosine"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
            F.sum(
                F.when(F.col("cosine") >= BITS_CURVE_TAU, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_true_pairs"),
        )
        .select(
            F.col("b").cast("int").alias("bits_per_table"),
            "n_candidate_pairs",
            "n_true_pairs",
            F.when(
                F.col("n_candidate_pairs") > 0,
                F.floor(
                    F.col("n_true_pairs").cast("double")
                    / F.col("n_candidate_pairs")
                    * 1e6
                )
                / 1e6,
            ).alias("pair_efficiency"),
        )
        .orderBy("bits_per_table")
    )


#: Semantic-dedup threshold sweep (operating points).
DEDUP_TAUS = ("0.80", "0.85", "0.90", "0.95")


def embedding_dedup_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The semantic-dedup OPERATING CURVE: for each cosine threshold
    τ, how many candidate pairs and how many distinct vectors the
    dedup would touch — the sweep a curation team reads before
    committing to a τ (the embedding twin of
    ``dedup_banding_tradeoff``).

    Plan: the LSH-blocked candidate frame is built ONCE; the τ sweep
    is conditional aggregation over it (no fan-out join, no re-scan),
    plus one endpoint-explode rollup for the distinct-vector counts.
    """
    pairs = _cosine_candidate_pairs(spark, sf_dir)
    pair_aggs = [F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")]
    for t in DEDUP_TAUS:
        pair_aggs.append(
            F.sum(F.when(F.col("cosine") >= float(t), 1).otherwise(0))
            .cast("bigint")
            .alias(f"p_{t.replace('.', '')}")
        )
    pa = pairs.agg(*pair_aggs)
    ends = pairs.select(
        F.explode(F.array("vec_a", "vec_b")).alias("vec"), "cosine"
    )
    vec_aggs = [
        F.countDistinct(
            F.when(F.col("cosine") >= float(t), F.col("vec"))
        )
        .cast("bigint")
        .alias(f"v_{t.replace('.', '')}")
        for t in DEDUP_TAUS
    ]
    va = ends.agg(*vec_aggs)
    stack_items = ", ".join(
        f"'{t}', p_{t.replace('.', '')}, v_{t.replace('.', '')}"
        for t in DEDUP_TAUS
    )
    return (
        pa.crossJoin(va)
        .selectExpr(
            f"stack({len(DEDUP_TAUS)}, {stack_items})"
            " AS (tau, n_pairs, n_vecs)",
            "n_candidate_pairs",
        )
        .select(
            F.col("tau").cast("double").alias("tau"),
            "n_pairs",
            "n_vecs",
            "n_candidate_pairs",
            F.when(
                F.col("n_candidate_pairs") > 0,
                F.floor(
                    F.col("n_pairs").cast("double")
                    / F.col("n_candidate_pairs")
                    * 1e6
                )
                / 1e6,
            ).alias("pair_share"),
        )
        .orderBy("tau")
    )


#: Prefix-containment blocking: bucket on the first PREFIX_LEN chars;
#: buckets larger than PREFIX_MAX_DF are boilerplate prefixes and are
#: dropped before the pair join (same role as MAX_SHINGLE_DF).
PREFIX_LEN = 64
PREFIX_MAX_DF = 100


def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate detection: documents whose FULL text is a
    prefix of a longer document — the scrape-pipeline artifact exact
    dedup misses (the same page captured at different truncation
    lengths) and Jaccard under-weights (a short prefix shares few
    shingles with a 10x longer doc).

    Blocking: two docs in a prefix-containment relation necessarily
    share their first PREFIX_LEN characters, so the candidate join is
    an equi-join on md5(prefix) — never a cross join — with a DF cap
    dropping boilerplate-prefix buckets. Verification is a row-local
    ``startswith``. Ordered canonically (shorter ⊂ longer; doc_id
    tiebreak on equal length). Only candidate-bucket rows shuffle
    their text, and only to the verify stage — the same
    candidates-then-verify cost split as dedup_minhash_verify.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        "text",
        F.md5(F.substring("text", 1, PREFIX_LEN)).alias("pk"),
    )
    small = (
        docs.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= PREFIX_MAX_DF)
        .select("pk")
    )
    blocked = docs.join(small, "pk", "leftsemi")
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pk") == F.col("b.pk"))
            & (
                (F.col("a.n_chars") < F.col("b.n_chars"))
                | (
                    (F.col("a.n_chars") == F.col("b.n_chars"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .where(F.col("b.text").startswith(F.col("a.text")))
        .select(
            F.col("a.doc_id").alias("contained_id"),
            F.col("a.source").alias("source"),
        )
    )
    return (
        pairs.groupBy("source")
        .agg(
            F.countDistinct("contained_id").alias("n_contained_docs"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .orderBy("source")
    )


def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy histogram — the skew diagnostic run
    BEFORE the band-bucket candidate join: a hot bucket of size s
    emits s² candidate pairs, so the size distribution IS the
    join-cost forecast (and the trigger for raising the band count
    or salting). Per band: bucket count, max occupancy, and the
    implied candidate-pair total Σ s(s−1)/2 — all from one rollup of
    the same signature frame the join consumes.
    """
    docs = repartition_for_grouped_python(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    bands = minhash_bands_for(docs)
    occ = bands.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    return (
        occ.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("s").cast("bigint").alias("max_occupancy"),
            F.sum(F.expr("(s * (s - 1)) div 2"))
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def dedup_fuzzy_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the EDIT-DISTANCE dedup pipeline:
    sorted-neighborhood Levenshtein pairs (text_fuzzy_dups) union
    into transitive clusters by min-label propagation, one
    representative (min doc_id) survives per cluster — the
    Levenshtein counterpart of dedup_cc_keepset's MinHash pipeline,
    so both fuzzy front-ends end in the same keep/drop contract.

    Scale shape: label propagation touches only PAIRED docs (a
    vanishing fraction of the corpus); each round is one equi-join +
    partial-aggregatable MIN, run to the exact fixed point
    (:func:`graph.connected_components`, which fails loudly at its
    round cap rather than splitting a deep cluster).
    """
    from postgres_s3_etl_spark.operators.text_analysis import (
        text_fuzzy_dups,
    )

    pairs = text_fuzzy_dups(spark, sf_dir).select(
        F.col("doc_i").alias("src"), F.col("doc_j").alias("dst")
    )
    sym = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = connected_components(sym, "dedup_fuzzy_cluster")
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(
            F.col("label").alias("keep_doc"),
            "n_members",
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("keep_doc")
    )


#: Train share of the leakage-safe split (x/10 by cluster hash).
SPLIT_TRAIN_OF_10 = 8


def leakage_safe_split_frame(docs: DataFrame) -> DataFrame:
    """Per-doc split assignment ``(doc_id, source, n_tokens, cluster,
    split)`` where the train/eval decision hashes the doc's NEAR-DUP
    CLUSTER label, not the doc — the split-leakage guard: a naive
    per-doc hash split puts ~2·p·(1−p) of every near-dup pair across
    the boundary, and the eval side then scores memorization.
    Clusters are connected components over the MinHash-LSH candidate
    pair graph (unverified candidates on purpose — for SPLITS, false
    merges only move whole groups to one side, while a false split
    is the leak); min-label propagation over the paired docs only,
    run to the exact FIXED POINT (:func:`graph.connected_components`
    — the oracle computes the exact transitive closure, and so does
    the engine at any diameter under its round cap, which fails
    loudly rather than split a cluster across the boundary).
    Factored out so tests can feed synthetic corpora.

    Scale shape: propagation touches only paired docs; the split
    decision is one row-local md5 of the cluster label; the rollup
    is partial-aggregatable. Nothing corpus-sized shuffles twice.
    """
    # persist: the band frame feeds BOTH sides of the candidate
    # self-join — un-materialized, the per-shingle md5 + 16-hash
    # signature map phase runs twice (the dedup_cc_keepset lesson,
    # round-14 audit).
    bands = minhash_bands_for(docs.select("doc_id", "text")).persist()
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    sym = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    try:
        labels = connected_components(sym, "leakage_safe_split_frame")
    finally:  # labels are checkpointed: release the band frame
        bands.unpersist()
    assigned = (
        docs.select(
            "doc_id",
            "source",
            F.size(F.split(F.trim("text"), r"\s+"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.coalesce("label", F.col("doc_id")).alias("cluster"),
        )
    )
    return assigned.withColumn(
        "split",
        F.when(
            F.expr(
                "conv(substr(md5(cast(cluster as string)), 1, 7), 16, 10)"
            ).cast("bigint")
            % 10
            < SPLIT_TRAIN_OF_10,
            F.lit("train"),
        ).otherwise(F.lit("eval")),
    )


def text_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split accounting: docs are assigned to
    train/eval by hashing their near-dup CLUSTER (connected component
    of the MinHash-LSH candidate graph), so a near-duplicate pair can
    never straddle the boundary — the split-integrity step run before
    any held-out evaluation is trusted (doc-level hash splits leak
    paraphrases into eval and overstate quality). Per (source,
    split): docs, distinct clusters, token mass. (Per-doc frame:
    :func:`leakage_safe_split_frame`; the no-cluster-straddles
    invariant and the doc-hash-would-leak counterexample are pinned
    in pytest.)
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return (
        leakage_safe_split_frame(docs)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster").cast("bigint").alias("n_clusters"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


QUERIES = {
    "text_split_leakage_safe": text_split_leakage_safe,
    "dedup_fuzzy_cluster": dedup_fuzzy_cluster,
    "dedup_lsh_bucket_stats": dedup_lsh_bucket_stats,
    "dedup_exact": dedup_exact,
    "dedup_prefix_containment": dedup_prefix_containment,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_shingle_containment": dedup_shingle_containment,
    "dedup_lsh_pr_curve": dedup_lsh_pr_curve,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_verify": dedup_minhash_verify,
    "dedup_minhash_estimator": dedup_minhash_estimator,
    "dedup_source_overlap": dedup_source_overlap,
    "dedup_cc_keepset": dedup_cc_keepset,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "embedding_dedup_threshold_curve": embedding_dedup_threshold_curve,
    "embedding_dedup_bits_curve": embedding_dedup_bits_curve,
}


def _bands_cte_sql(n_bands: int = LSH_BANDS, rel: str = "documents") -> str:
    """Shared DuckDB CTE chain ending in ``bands(doc_id, band,
    bucket)`` — the SQL twin of :func:`minhash_bands_for` (or, at
    ``n_bands != LSH_BANDS``, of ``_band_rows(sig, n_bands)``).
    ``rel`` is the (doc_id, text) relation to band — a table name or
    a parenthesized subquery over earlier CTEs."""
    rpb = NUM_MINHASHES // n_bands
    mh_cols = ", ".join(
        f"MIN(({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_P}) AS mh{j}"
        for j in range(NUM_MINHASHES)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"CAST(mh{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + ")) AS bucket FROM sig"
        for b in range(n_bands)
    )
    return f"""
        sh AS (
            SELECT doc_id, {_SHINGLES_SQL} AS shingles
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                  FROM {rel})
        ),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        hv AS (
            SELECT doc_id,
                   list_sum([(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1)
                             * CAST(pow(16, 7 - i) AS BIGINT)
                             for i in generate_series(1, 7)]) AS h
            FROM ex
        ),
        sig AS (SELECT doc_id, {mh_cols} FROM hv GROUP BY doc_id),
        bands AS ({band_selects})
    """

_SHINGLES_SQL = r"""
    list_distinct([array_to_string(w[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(w) - 2, 1))])
"""

ORACLES = {
    "dedup_prefix_containment": f"""
        WITH docs AS (
            SELECT doc_id, source, n_chars, text,
                   md5(substr(text, 1, {PREFIX_LEN})) AS pk
            FROM documents
        ),
        small AS (
            SELECT pk FROM docs GROUP BY pk
            HAVING COUNT(*) <= {PREFIX_MAX_DF}
        ),
        blocked AS (
            SELECT d.* FROM docs d
            WHERE d.pk IN (SELECT pk FROM small)
        ),
        pairs AS (
            SELECT a.doc_id AS contained_id, a.source
            FROM blocked a JOIN blocked b
              ON a.pk = b.pk
             AND (a.n_chars < b.n_chars
                  OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id))
            WHERE starts_with(b.text, a.text)
        )
        SELECT source,
               COUNT(DISTINCT contained_id) AS n_contained_docs,
               COUNT(*) AS n_pairs
        FROM pairs
        GROUP BY source
        ORDER BY source
    """,
    "dedup_source_overlap": """
        WITH ds AS (
            SELECT DISTINCT md5(lower(trim(text))) AS digest, source
            FROM documents
        )
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared_digests
        FROM ds a JOIN ds b
          ON a.digest = b.digest AND a.source < b.source
        GROUP BY a.source, b.source
        ORDER BY source_a, source_b
    """,
    "dedup_exact": """
        WITH groups AS (
            SELECT md5(lower(trim(text))) AS digest,
                   COUNT(*) AS n, MIN(doc_id) AS keep_id
            FROM documents GROUP BY digest
        )
        SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               COUNT(*) AS n_unique,
               CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
               CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        FROM groups
    """,
    # Mirrors ngram_jaccard_pairs: shingles with per-block document
    # frequency > MAX_SHINGLE_DF are dropped before the self-join, and
    # Jaccard is over the kept-shingle sets.
    "dedup_ngram_jaccard": f"""
        WITH sh AS (
            SELECT doc_id, lang, source, {_SHINGLES_SQL} AS shingles
            FROM (SELECT doc_id, lang, source,
                         string_split_regex(trim(text), '\\s+') AS w
                  FROM documents)
        ),
        raw AS (
            SELECT doc_id, lang, source, unnest(shingles) AS s0 FROM sh
        ),
        exploded AS (
            SELECT doc_id, lang, source,
                   list_sum([(strpos('0123456789abcdef', substr(md5(s0), i, 1)) - 1)
                             * CAST(pow(16, 15 - i) AS BIGINT)
                             for i in generate_series(1, 15)]) AS s
            FROM raw
        ),
        kept AS (
            SELECT doc_id, lang, source, s FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY lang, source, s) AS df
                FROM exploded
            ) WHERE df <= {MAX_SHINGLE_DF}
        ),
        sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM kept a
            JOIN kept b
              ON a.lang = b.lang AND a.source = b.source
             AND a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               floor(CAST(c.n_common AS DOUBLE)
                     / (sa.n_sh + sb.n_sh - c.n_common) * 1e6) / 1e6 AS jaccard
        FROM common c
        JOIN sizes sa ON c.doc_a = sa.doc_id
        JOIN sizes sb ON c.doc_b = sb.doc_id
        ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
        LIMIT {TOP_PAIRS}
    """,
    "dedup_lsh_pr_curve": f"""
        WITH {_bands_cte_sql()}
        , cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   1 AS is_cand
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
        ),
        gsh AS (
            SELECT doc_id, lang, source, {_SHINGLES_SQL} AS shingles
            FROM (SELECT doc_id, lang, source,
                         string_split_regex(trim(text), '\\s+') AS w
                  FROM documents)
        ),
        graw AS (
            SELECT doc_id, lang, source, unnest(shingles) AS s0 FROM gsh
        ),
        gexp AS (
            SELECT doc_id, lang, source,
                   list_sum([(strpos('0123456789abcdef', substr(md5(s0), i, 1)) - 1)
                             * CAST(pow(16, 15 - i) AS BIGINT)
                             for i in generate_series(1, 15)]) AS s
            FROM graw
        ),
        gkept AS (
            SELECT doc_id, lang, source, s FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY lang, source, s) AS df
                FROM gexp
            ) WHERE df <= {MAX_SHINGLE_DF}
        ),
        gsizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM gkept GROUP BY doc_id
        ),
        gcommon AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM gkept a JOIN gkept b
              ON a.lang = b.lang AND a.source = b.source
             AND a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        gt AS (
            SELECT c.doc_a, c.doc_b,
                   floor(CAST(c.n_common AS DOUBLE)
                         / (sa.n_sh + sb.n_sh - c.n_common) * 1e6) / 1e6
                       AS jaccard
            FROM gcommon c
            JOIN gsizes sa ON c.doc_a = sa.doc_id
            JOIN gsizes sb ON c.doc_b = sb.doc_id
        ),
        base AS (
            SELECT COALESCE(g.jaccard, 0.0) AS j,
                   COALESCE(c.is_cand, 0) AS is_cand
            FROM gt g FULL OUTER JOIN cand c
              ON g.doc_a = c.doc_a AND g.doc_b = c.doc_b
        ),
        taus AS (
            SELECT unnest([{", ".join(repr(t) for t in PR_TAUS)}]) AS tau
        ),
        stats AS (
            SELECT t.tau,
                   CAST(SUM(b.is_cand) AS BIGINT) AS n_candidates,
                   CAST(SUM(CASE WHEN b.j >= t.tau THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_true_pairs,
                   CAST(SUM(CASE WHEN b.j >= t.tau AND b.is_cand = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp
            FROM base b CROSS JOIN taus t
            GROUP BY t.tau
        )
        SELECT tau, n_candidates, n_true_pairs, tp,
               floor(CASE WHEN n_candidates > 0 THEN
                     CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE)
                     END * 1e6) / 1e6 AS precision,
               floor(CASE WHEN n_true_pairs > 0 THEN
                     CAST(tp AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)
                     END * 1e6) / 1e6 AS recall
        FROM stats
        ORDER BY tau
    """,
    "dedup_shingle_containment": f"""
        WITH sh AS (
            SELECT doc_id, lang, source, {_SHINGLES_SQL} AS shingles
            FROM (SELECT doc_id, lang, source,
                         string_split_regex(trim(text), '\\s+') AS w
                  FROM documents)
        ),
        raw AS (
            SELECT doc_id, lang, source, unnest(shingles) AS s0 FROM sh
        ),
        exploded AS (
            SELECT doc_id, lang, source,
                   list_sum([(strpos('0123456789abcdef', substr(md5(s0), i, 1)) - 1)
                             * CAST(pow(16, 15 - i) AS BIGINT)
                             for i in generate_series(1, 15)]) AS s
            FROM raw
        ),
        kept AS (
            SELECT doc_id, lang, source, s FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY lang, source, s) AS df
                FROM exploded
            ) WHERE df <= {MAX_SHINGLE_DF}
        ),
        sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM kept a
            JOIN kept b
              ON a.lang = b.lang AND a.source = b.source
             AND a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT c.doc_a, c.doc_b, c.n_common,
               floor(CAST(c.n_common AS DOUBLE)
                     / least(sa.n_sh, sb.n_sh) * 1e6) / 1e6 AS containment
        FROM common c
        JOIN sizes sa ON c.doc_a = sa.doc_id
        JOIN sizes sb ON c.doc_b = sb.doc_id
        ORDER BY containment DESC, doc_a ASC, doc_b ASC
        LIMIT {TOP_PAIRS}
    """,
    # dedup_minhash_lsh / dedup_cc_keepset are generated below from
    # the shared bands CTE (_bands_cte_sql).
    # Mirrors the (label, tbl, bucket) LSH sub-blocking of
    # dedup_embedding_cosine via the shared signature CTE.
    "embedding_dedup_bits_curve": f"""
        WITH {sig_cte_sql("label,")},
        bset AS (SELECT unnest([{", ".join(str(b) for b in DEDUP_BITS_SWEEP)}]) AS b),
        bucketed AS (
            SELECT v.vec_id, v.label, v.v, v.nrm, bs.b, t.t AS tbl,
                   (s.sig // CAST(pow(2, t.t * bs.b) AS BIGINT))
                       % CAST(pow(2, bs.b) AS BIGINT) AS bucket
            FROM vecs v
            JOIN sigs s ON v.vec_id = s.vec_id,
                 (SELECT unnest(generate_series(0, 3)) AS t) t,
                 bset bs
        ),
        pairs AS (
            SELECT DISTINCT a.b AS b, a.vec_id AS vec_a,
                   b2.vec_id AS vec_b,
                   floor(list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm)
                         * 1e6) / 1e6 AS cosine
            FROM bucketed a
            JOIN bucketed b2
              ON a.b = b2.b AND a.label = b2.label AND a.tbl = b2.tbl
             AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        )
        SELECT CAST(b AS INT) AS bits_per_table,
               CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
               CAST(SUM(CASE WHEN cosine >= {BITS_CURVE_TAU} THEN 1
                        ELSE 0 END) AS BIGINT) AS n_true_pairs,
               CASE WHEN COUNT(*) > 0 THEN
                   floor(CAST(SUM(CASE WHEN cosine >= {BITS_CURVE_TAU}
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*) * 1e6) / 1e6
               END AS pair_efficiency
        FROM pairs
        GROUP BY b
        ORDER BY bits_per_table
    """,
    "dedup_embedding_cosine": f"""
        WITH {lsh_bucket_cte("label,", label_blocked=True)},
        pairs AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.label AS label,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM bucketed a
            JOIN bucketed b
              ON a.label = b.label AND a.tbl = b.tbl
             AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, label, cosine
        FROM pairs
        ORDER BY cosine DESC, vec_a ASC, vec_b ASC
        LIMIT {TOP_PAIRS}
    """,
    "embedding_dedup_threshold_curve": f"""
        WITH {lsh_bucket_cte("label,", label_blocked=True)},
        pairs AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.label AS label,
                   floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6) / 1e6 AS cosine
            FROM bucketed a
            JOIN bucketed b
              ON a.label = b.label AND a.tbl = b.tbl
             AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ),
        pa AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN cosine >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS p_{t.replace('.', '')}"
                       for t in DEDUP_TAUS
                   )}
            FROM pairs
        ),
        ends AS (
            SELECT unnest([vec_a, vec_b]) AS vec, cosine FROM pairs
        ),
        va AS (
            SELECT {", ".join(
                       f"CAST(COUNT(DISTINCT CASE WHEN cosine >= {t} THEN vec END) AS BIGINT) AS v_{t.replace('.', '')}"
                       for t in DEDUP_TAUS
                   )}
            FROM ends
        ),
        rows_out AS (
            {" UNION ALL ".join(
                f"SELECT CAST({t} AS DOUBLE) AS tau,"
                f" p_{t.replace('.', '')} AS n_pairs,"
                f" v_{t.replace('.', '')} AS n_vecs,"
                f" n_candidate_pairs FROM pa CROSS JOIN va"
                for t in DEDUP_TAUS
            )}
        )
        SELECT tau, n_pairs, n_vecs, n_candidate_pairs,
               CASE WHEN n_candidate_pairs > 0 THEN
                   floor(CAST(n_pairs AS DOUBLE) / n_candidate_pairs * 1e6)
                       / 1e6
               END AS pair_share
        FROM rows_out
        ORDER BY tau
    """,
    # dedup_simhash: oracle below is generated — see _simhash_oracle().
}


def _simhash_oracle() -> str:
    """SimHash SQL twin: same bit algebra as the Spark plan — one md5
    per distinct token, h = first-15-hex-chars integer, per-bit ±1
    vote sums, bit j set where the vote sum is positive, 7-chunk
    pigeonhole bucketing (SIMHASH_CHUNKS)."""
    vote_cols = ", ".join(
        f"SUM(2 * ((h // {1 << j}) % 2) - 1) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    chunk_rows = ", ".join(
        f"({i}, {1 << off}, {1 << w})" for i, off, w in SIMHASH_CHUNKS
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(
                list_distinct(string_split_regex(trim(lower(text)), '\\s+'))
            ) AS t
            FROM documents
        ),
        hv AS (
            SELECT doc_id,
                   list_sum([(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)
                             * CAST(pow(16, 15 - i) AS BIGINT)
                             for i in generate_series(1, 15)]) AS h
            FROM toks
        ),
        votes AS (
            SELECT doc_id, {vote_cols}
            FROM hv GROUP BY doc_id
        ),
        sh AS (
            SELECT doc_id, CAST({bit_sum} AS BIGINT) AS simhash
            FROM votes
        ),
        chunks AS (
            SELECT doc_id, simhash, c.chunk,
                   (simhash // c.d) % c.m AS val
            FROM sh, (VALUES {chunk_rows}) c(chunk, d, m)
        ),
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM chunks a
            JOIN chunks b ON a.chunk = b.chunk AND a.val = b.val
                         AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        FROM candidates
        WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
        ORDER BY hamming, doc_a, doc_b
        LIMIT 50
    """


ORACLES["dedup_simhash"] = _simhash_oracle()

ORACLES["dedup_lsh_bucket_stats"] = f"""
    WITH {_bands_cte_sql()},
    occ AS (
        SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS s
        FROM bands GROUP BY band, bucket
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(s) AS BIGINT) AS max_occupancy,
           CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM occ GROUP BY band ORDER BY band
"""

ORACLES["dedup_minhash_lsh"] = f"""
    WITH {_bands_cte_sql()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_bands
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY n_shared_bands DESC, doc_a ASC, doc_b ASC
    LIMIT 50
"""

ORACLES["dedup_minhash_estimator"] = f"""
    WITH {_bands_cte_sql()},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        ORDER BY n_shared_bands DESC, doc_a ASC, doc_b ASC
        LIMIT {TOP_PAIRS}
    ),
    matched AS (
        SELECT c.doc_a, c.doc_b,
               CAST({" + ".join(f"CASE WHEN s1.mh{j} = s2.mh{j} THEN 1 ELSE 0 END" for j in range(NUM_MINHASHES))}
                    AS BIGINT) AS n_match_sig
        FROM cand c
        JOIN sig s1 ON s1.doc_id = c.doc_a
        JOIN sig s2 ON s2.doc_id = c.doc_b
    )
    SELECT m.doc_a, m.doc_b, m.n_match_sig,
           floor(m.n_match_sig * 1e6 / {NUM_MINHASHES}) / 1e6
               AS est_jaccard,
           floor(len(list_intersect(sa.shingles, sb.shingles)) * 1e6
                 / len(list_distinct(sa.shingles || sb.shingles))) / 1e6
               AS jaccard,
           floor(abs(floor(m.n_match_sig * 1e6 / {NUM_MINHASHES}) / 1e6
                     - floor(len(list_intersect(sa.shingles, sb.shingles)) * 1e6
                             / len(list_distinct(sa.shingles || sb.shingles))) / 1e6)
                 * 1e6) / 1e6 AS abs_err
    FROM matched m
    JOIN sh sa ON sa.doc_id = m.doc_a
    JOIN sh sb ON sb.doc_id = m.doc_b
    ORDER BY doc_a, doc_b
"""

ORACLES["dedup_minhash_verify"] = f"""
    WITH {_bands_cte_sql()},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        ORDER BY n_shared_bands DESC, doc_a ASC, doc_b ASC
        LIMIT {TOP_PAIRS}
    )
    SELECT c.doc_a, c.doc_b, c.n_shared_bands,
           floor(len(list_intersect(sa.shingles, sb.shingles)) * 1e6
                 / len(list_distinct(sa.shingles || sb.shingles))) / 1e6 AS jaccard,
           jaccard >= {VERIFY_JACCARD_T} AS is_dup
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    ORDER BY doc_a, doc_b
"""

# Connected components as a recursive CTE: label(doc) = min doc_id
# reachable over the undirected candidate-pair graph — the SQL twin of
# the iterative label propagation in dedup_cc_keepset.
ORACLES["dedup_cc_keepset"] = f"""
    WITH RECURSIVE {_bands_cte_sql()},
    pairs AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst, src FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    reach(doc, label) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT e.dst, r.label
        FROM reach r JOIN edges e ON e.src = r.doc
    ),
    comp AS (SELECT doc, MIN(label) AS label FROM reach GROUP BY doc),
    sizes AS (SELECT label, COUNT(*) AS sz FROM comp GROUP BY label)
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           COUNT(*) AS n_dup_groups,
           CAST(SUM(sz) AS BIGINT) AS n_docs_in_dup_groups,
           CAST((SELECT COUNT(*) FROM documents) - (SUM(sz) - COUNT(*)) AS BIGINT) AS n_kept,
           CAST(MAX(sz) AS BIGINT) AS max_component_size
    FROM sizes
"""

# Leakage-safe split: exact transitive closure (recursive CTE) over
# the same candidate graph, then the same md5-of-cluster hash split.
ORACLES["text_split_leakage_safe"] = f"""
    WITH RECURSIVE {_bands_cte_sql()},
    pairs AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst, src FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc FROM edges),
    reach(doc, label) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT e.dst, r.label
        FROM reach r JOIN edges e ON e.src = r.doc
    ),
    comp AS (SELECT doc, MIN(label) AS label FROM reach GROUP BY doc),
    assigned AS (
        SELECT d.doc_id, d.source,
               CAST(len(string_split_regex(trim(d.text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               COALESCE(c.label, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc
    ),
    split AS (
        SELECT *,
               CASE WHEN list_sum([
                        (strpos('0123456789abcdef',
                                substr(md5(CAST(cluster AS VARCHAR)), i, 1)) - 1)
                        * CAST(pow(16, 7 - i) AS BIGINT)
                        for i in generate_series(1, 7)]) % 10
                    < {SPLIT_TRAIN_OF_10}
                    THEN 'train' ELSE 'eval' END AS split
        FROM assigned
    )
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM split
    GROUP BY source, split
    ORDER BY source, split
"""


# Exact transitive closure (recursive CTE) over the fuzzy pair graph
# — round-11: the engine now propagates to the exact FIXED POINT
# (graph.connected_components), so the oracle must too; the previous
# unrolled FUZZY_CC_ROUNDS=8 chain would disagree with the (correct)
# engine on any component with propagation distance > 8.
ORACLES["dedup_fuzzy_cluster"] = f"""
    WITH RECURSIVE fd AS (
        SELECT doc_id, lang, substr(text, 1, 80) AS p,
               ROW_NUMBER() OVER (ORDER BY lang, n_chars,
                                  substr(text, 1, 80), doc_id) AS rnk
        FROM documents
    ),
    fpairs AS (
        SELECT least(a.doc_id, b.doc_id) AS doc_i,
               greatest(a.doc_id, b.doc_id) AS doc_j
        FROM fd a JOIN fd b
          ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 8
         AND a.lang = b.lang
        WHERE floor(CAST(levenshtein(a.p, b.p) AS DOUBLE)
                    / CAST(greatest(length(a.p), length(b.p)) AS DOUBLE)
                    * 1e6) / 1e6 <= 0.6
    ),
    fsym AS (
        SELECT doc_i AS src, doc_j AS dst FROM fpairs
        UNION ALL
        SELECT doc_j AS src, doc_i AS dst FROM fpairs
    ),
    fnodes AS (SELECT DISTINCT src AS doc FROM fsym),
    freach(doc, label) AS (
        SELECT doc, doc FROM fnodes
        UNION
        SELECT e.dst, r.label
        FROM freach r JOIN fsym e ON e.src = r.doc
    ),
    fcomp AS (SELECT doc, MIN(label) AS label FROM freach GROUP BY doc)
    SELECT label AS keep_doc,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM fcomp
    GROUP BY label
    ORDER BY keep_doc
"""


def _banding_tradeoff_oracle() -> str:
    """SQL twin of dedup_banding_tradeoff: re-band the shared sig CTE
    at each (bands, rows) config, count distinct candidate pairs."""
    rpb = {nb: NUM_MINHASHES // nb for nb in BANDING_CONFIGS}
    band_ctes = []
    for nb in BANDING_CONFIGS:
        arms = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('|', "
            + ", ".join(
                f"CAST(mh{b * rpb[nb] + r} AS VARCHAR)"
                for r in range(rpb[nb])
            )
            + ")) AS bucket FROM sig"
            for b in range(nb)
        )
        band_ctes.append(f"bands{nb} AS ({arms})")
        band_ctes.append(
            f"""cand{nb} AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
                    SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                    FROM bands{nb} a JOIN bands{nb} b
                      ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
                )
            )"""
        )
    selects = " UNION ALL ".join(
        f"""SELECT {nb} AS n_bands, {rpb[nb]} AS rows_per_band,
               floor(pow(1.0 / {nb}.0, 1.0 / {rpb[nb]}.0) * 1e6) / 1e6
                   AS est_threshold,
               n AS n_candidate_pairs
        FROM cand{nb}"""
        for nb in BANDING_CONFIGS
    )
    return f"""
        WITH {_bands_cte_sql()},
        {", ".join(band_ctes)}
        {selects}
        ORDER BY n_bands
    """


ORACLES["dedup_banding_tradeoff"] = _banding_tradeoff_oracle()
QUERIES["dedup_banding_tradeoff"] = dedup_banding_tradeoff
