"""End-to-end training-data curation funnel (SURVEY.md §2.4).

The reference repo's pipeline shape is extract → staged table →
multi-CTE transform → load (reference airflow/dags/reviews_ETL.py —
each DAG is a linear funnel over staged rows). This module is the
LLM-corpus analogue a 100-TB curation run actually executes, as ONE
operator: the standard stage order quality-gate → exact dedup →
near-dup keep-set → eval-set decontamination → per-source caps, with
doc AND token accounting per source at every stage — the funnel
table a data lead reads to see where the corpus mass went.

Every stage reuses the SAME pinned primitive its standalone operator
uses (the DECIMAL quality logit of text_quality_classifier, the
md5 digest of dedup_exact, the MinHash-LSH candidate components of
dedup_cc_keepset, the 8-gram fingerprints of text_decontaminate,
the rank/budget windows of text_source_caps), so the funnel is the
COMPOSITION being tested, not new math.

Scale shape: each stage materializes only a slim (doc_id) keep-set
(localCheckpoint — document text never re-shuffles between stages);
the final accounting is one per-doc flags join + a stage explode +
one partial-aggregatable rollup. Near-dup propagation touches only
PAIRED docs. Nothing in the funnel is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_s3_etl_spark.catalog import load_table

#: Funnel stages in order; a doc's ``max_stage`` is the last one it
#: survived. Stage 0 is the raw (train-split) corpus.
FUNNEL_STAGES = (
    "raw",
    "quality_gate",
    "exact_dedup",
    "near_dedup",
    "decontaminated",
    "source_caps",
)


def text_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, stage) docs/tokens surviving each curation stage
    — the end-to-end funnel (see module docstring). Eval docs
    (``doc_id % 50 == 0``, the standing benchmark stand-in) are not
    curated; they exist only as the decontamination reference.
    """
    from postgres_s3_etl_spark.operators.dedup import minhash_bands_for
    from postgres_s3_etl_spark.operators.graph import connected_components
    from postgres_s3_etl_spark.operators.text_analysis import (
        CAP_DOCS_PER_SOURCE,
        CAP_TOKENS_PER_SOURCE,
        DECON_NGRAM,
        _ws_tokens,
        quality_logit_col,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    text = F.col("text")
    n_tokens = F.size(_ws_tokens(text)).cast("long")
    logit = quality_logit_col(text)
    base = docs.where(F.col("doc_id") % 50 != 0).select(
        "doc_id",
        "source",
        "text",
        n_tokens.alias("n_tokens"),
        logit.alias("z"),
        F.md5(F.lower(F.trim("text"))).alias("digest"),
    )

    # stage 1: quality gate (logit > 0, the classifier's keep rule)
    ids1 = base.where(F.col("z") > 0).select("doc_id").localCheckpoint()

    # stage 2: exact dedup among stage-1 survivors, first-id wins
    s1 = base.join(ids1, "doc_id")
    w_first = Window.partitionBy("digest").orderBy("doc_id")
    ids2 = (
        s1.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") == 1)
        .select("doc_id")
        .localCheckpoint()
    )

    # stage 3: near-dup keep-set among stage-2 survivors — MinHash-
    # LSH candidate components, min doc_id survives per component
    s2 = base.join(ids2, "doc_id")
    # persist: both self-join sides read the band frame (round-14
    # audit — same fix as dedup_cc_keepset / leakage_safe_split_frame)
    bands = minhash_bands_for(s2.select("doc_id", "text")).persist()
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
    # Exact-fixed-point components (shared with dedup and the split
    # guard) — a fixed round count would silently split deep
    # components at production scale.
    try:
        labels = connected_components(sym, "curation_funnel.stage3")
    finally:  # labels are checkpointed: release the band frame
        bands.unpersist()
    dropped3 = labels.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    ids3 = (
        ids2.join(dropped3, "doc_id", "left_anti")
        .select("doc_id")
        .localCheckpoint()
    )

    # stage 4: eval-set decontamination (8-gram fingerprint overlap)
    eval_fps = (
        docs.where(F.col("doc_id") % 50 == 0)
        .select(_ws_tokens(F.col("text")).alias("w"))
        .select(
            F.explode(
                F.expr(
                    f"""transform(sequence(1, greatest(size(w) - {DECON_NGRAM - 1}, 1)),
                         i -> md5(concat_ws(' ', slice(w, i, {DECON_NGRAM}))))"""
                )
            ).alias("fp")
        )
        .distinct()
    )
    s3 = base.join(ids3, "doc_id")
    contaminated = (
        s3.select("doc_id", _ws_tokens(F.col("text")).alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""transform(sequence(1, greatest(size(w) - {DECON_NGRAM - 1}, 1)),
                         i -> md5(concat_ws(' ', slice(w, i, {DECON_NGRAM}))))"""
                )
            ).alias("fp"),
        )
        .join(F.broadcast(eval_fps), "fp", "left_semi")
        .select("doc_id")
        .distinct()
    )
    ids4 = (
        ids3.join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
        .localCheckpoint()
    )

    # stage 5: per-source caps among stage-4 survivors (rank by the
    # same DECIMAL logit, doc AND running-token budgets)
    s4 = base.join(ids4, "doc_id")
    w_rank = Window.partitionBy("source").orderBy(
        F.desc("z"), F.asc("doc_id")
    )
    ids5 = (
        s4.withColumn("rnk", F.row_number().over(w_rank))
        .withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                w_rank.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .where(
            (F.col("rnk") <= CAP_DOCS_PER_SOURCE)
            & (F.col("cum_tokens") <= CAP_TOKENS_PER_SOURCE)
        )
        .select("doc_id")
    )

    flags = base.select("doc_id", "source", "n_tokens")
    for name, ids in (
        ("f1", ids1),
        ("f2", ids2),
        ("f3", ids3),
        ("f4", ids4),
        ("f5", ids5),
    ):
        flags = flags.join(
            ids.select("doc_id", F.lit(True).alias(name)), "doc_id", "left"
        )
    max_stage = (
        F.when(F.coalesce("f5", F.lit(False)), 5)
        .when(F.coalesce("f4", F.lit(False)), 4)
        .when(F.coalesce("f3", F.lit(False)), 3)
        .when(F.coalesce("f2", F.lit(False)), 2)
        .when(F.coalesce("f1", F.lit(False)), 1)
        .otherwise(0)
    )
    per_doc = flags.select(
        "source", "n_tokens", max_stage.alias("max_stage")
    )
    return (
        per_doc.select(
            "source",
            "n_tokens",
            F.explode(F.expr("sequence(0, max_stage)")).alias("stage"),
        )
        .groupBy("source", "stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "source",
            F.col("stage").cast("int").alias("stage"),
            F.element_at(
                F.array(*[F.lit(s) for s in FUNNEL_STAGES]),
                F.col("stage") + 1,
            ).alias("stage_name"),
            "n_docs",
            "n_tokens",
        )
        .orderBy("source", "stage")
    )


def _funnel_oracle() -> str:
    """SQL twin: same stage rules, but the near-dup components come
    from the EXACT recursive-CTE closure (under-iterated propagation
    cannot pass) and the bands CTE runs over the stage-2 survivors
    only, exactly like the engine."""
    from postgres_s3_etl_spark.operators.dedup import _bands_cte_sql
    from postgres_s3_etl_spark.operators.text_analysis import (
        CAP_DOCS_PER_SOURCE,
        CAP_TOKENS_PER_SOURCE,
        CLS_BIAS,
        CLS_W_PUNCT,
        CLS_W_STOP,
        CLS_W_TOKENS,
        DECON_NGRAM,
        PUNCT_PATTERN,
        STOPWORD_PATTERN,
    )

    stage_names = ", ".join(f"'{s}'" for s in FUNNEL_STAGES)
    return rf"""
        WITH RECURSIVE base AS (
            SELECT doc_id, source, text,
                   CAST(len(string_split_regex(trim(text), '\s+'))
                        AS BIGINT) AS n_tokens,
                   CAST(CAST({CLS_W_TOKENS} AS DECIMAL(8,2))
                            * len(string_split_regex(trim(text), '\s+'))
                        + CAST({CLS_W_STOP} AS DECIMAL(8,2))
                            * len(regexp_extract_all(lower(text),
                                  '{STOPWORD_PATTERN}'))
                        + CAST({CLS_W_PUNCT} AS DECIMAL(8,2))
                            * len(regexp_extract_all(text, '{PUNCT_PATTERN}'))
                        + CAST({CLS_BIAS} AS DECIMAL(8,2))
                        AS DECIMAL(18,2)) AS z,
                   md5(lower(trim(text))) AS digest
            FROM documents
            WHERE doc_id % 50 <> 0
        ),
        ids1 AS (SELECT doc_id FROM base WHERE z > 0),
        ids2 AS (
            SELECT doc_id FROM (
                SELECT b.doc_id,
                       ROW_NUMBER() OVER (PARTITION BY b.digest
                           ORDER BY b.doc_id) AS rn
                FROM base b JOIN ids1 USING (doc_id)
            ) WHERE rn = 1
        ),
        {_bands_cte_sql(rel="(SELECT d.doc_id, d.text FROM documents d JOIN ids2 USING (doc_id))")},
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
        ids3 AS (
            SELECT doc_id FROM ids2
            WHERE doc_id NOT IN (SELECT doc FROM comp WHERE doc <> label)
        ),
        eval_words AS (
            SELECT string_split_regex(trim(text), '\s+') AS w
            FROM documents WHERE doc_id % 50 = 0
        ),
        eval_fps AS (
            SELECT DISTINCT
                   unnest([md5(array_to_string(w[i:i+{DECON_NGRAM - 1}], ' '))
                           for i in generate_series(1, greatest(len(w) - {DECON_NGRAM - 1}, 1))]) AS fp
            FROM eval_words
        ),
        spans3 AS (
            SELECT b.doc_id,
                   unnest([md5(array_to_string(w[i:i+{DECON_NGRAM - 1}], ' '))
                           for i in generate_series(1, greatest(len(w) - {DECON_NGRAM - 1}, 1))]) AS fp
            FROM (SELECT doc_id,
                         string_split_regex(trim(text), '\s+') AS w
                  FROM base JOIN ids3 USING (doc_id)) b
        ),
        contaminated AS (
            SELECT DISTINCT doc_id FROM spans3
            WHERE fp IN (SELECT fp FROM eval_fps)
        ),
        ids4 AS (
            SELECT doc_id FROM ids3
            WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        ranked AS (
            SELECT b.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY b.source
                       ORDER BY b.z DESC, b.doc_id ASC) AS rnk,
                   SUM(b.n_tokens) OVER (PARTITION BY b.source
                       ORDER BY b.z DESC, b.doc_id ASC
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
            FROM base b JOIN ids4 USING (doc_id)
        ),
        ids5 AS (
            SELECT doc_id FROM ranked
            WHERE rnk <= {CAP_DOCS_PER_SOURCE}
              AND cum_tokens <= {CAP_TOKENS_PER_SOURCE}
        ),
        perdoc AS (
            SELECT b.source, b.n_tokens,
                   CASE WHEN b.doc_id IN (SELECT doc_id FROM ids5) THEN 5
                        WHEN b.doc_id IN (SELECT doc_id FROM ids4) THEN 4
                        WHEN b.doc_id IN (SELECT doc_id FROM ids3) THEN 3
                        WHEN b.doc_id IN (SELECT doc_id FROM ids2) THEN 2
                        WHEN b.doc_id IN (SELECT doc_id FROM ids1) THEN 1
                        ELSE 0 END AS max_stage
            FROM base b
        ),
        funnel AS (
            SELECT source, n_tokens,
                   unnest(generate_series(0, max_stage)) AS stage
            FROM perdoc
        )
        SELECT source,
               CAST(stage AS INT) AS stage,
               ([{stage_names}])[stage + 1] AS stage_name,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM funnel
        GROUP BY source, stage
        ORDER BY source, stage
    """


#: Curriculum phases (quality-annealing quartiles: lowest-logit data
#: trains first, the best data last).
CURRICULUM_PHASES = 4


def text_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum / quality-annealing schedule — the data-ORDERING
    plan a staged training run consumes after curation: train docs
    are ranked by the pinned DECIMAL quality logit (doc_id tiebreak —
    deterministic total order) and split into CURRICULUM_PHASES
    NTILE quartiles, lowest-quality phase first (the standard
    anneal-to-quality schedule: the best data is seen last, at the
    lowest learning rates). Output per (phase, source): docs, tokens,
    mean logit, and the source's token share WITHIN its phase — the
    table that shows how the source mixture drifts across the anneal.

    Scale shape: the global rank is the two-pass range-partitioned
    machinery (operators/ranking.py — never a single-task window);
    the share window runs over the rolled-up (phase, source) frame
    (≤ phases·sources rows), not the corpus.
    """
    from postgres_s3_etl_spark.operators.ranking import (
        GN,
        GRN,
        ntile_col,
        with_global_order,
    )
    from postgres_s3_etl_spark.operators.text_analysis import (
        _ws_tokens,
        quality_logit_col,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    text = F.col("text")
    n_tokens = F.size(_ws_tokens(text)).cast("long")
    logit = quality_logit_col(text)
    base = docs.where(F.col("doc_id") % 50 != 0).select(
        "doc_id", "source", n_tokens.alias("n_tokens"), logit.alias("z")
    )
    ranked = with_global_order(
        base, [F.col("z").asc(), F.col("doc_id").asc()]
    ).withColumn(
        "phase", ntile_col(F.col(GRN), F.col(GN), CURRICULUM_PHASES)
    )
    roll = ranked.groupBy("phase", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("z").alias("sz"),
    )
    w_phase = Window.partitionBy("phase")
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return roll.select(
        "phase",
        "source",
        "n_docs",
        "n_tokens",
        f6(F.col("sz").cast("double") / F.col("n_docs")).alias("mean_logit"),
        f6(
            F.col("n_tokens")
            / F.sum("n_tokens").over(w_phase).cast("double")
        ).alias("phase_token_share"),
    ).orderBy("phase", "source")


def _curriculum_oracle() -> str:
    from postgres_s3_etl_spark.operators.text_analysis import (
        CLS_BIAS,
        CLS_W_PUNCT,
        CLS_W_STOP,
        CLS_W_TOKENS,
        PUNCT_PATTERN,
        STOPWORD_PATTERN,
    )

    return rf"""
        WITH base AS (
            SELECT doc_id, source,
                   CAST(len(string_split_regex(trim(text), '\s+'))
                        AS BIGINT) AS n_tokens,
                   CAST(CAST({CLS_W_TOKENS} AS DECIMAL(8,2))
                            * len(string_split_regex(trim(text), '\s+'))
                        + CAST({CLS_W_STOP} AS DECIMAL(8,2))
                            * len(regexp_extract_all(lower(text),
                                  '{STOPWORD_PATTERN}'))
                        + CAST({CLS_W_PUNCT} AS DECIMAL(8,2))
                            * len(regexp_extract_all(text, '{PUNCT_PATTERN}'))
                        + CAST({CLS_BIAS} AS DECIMAL(8,2))
                        AS DECIMAL(18,2)) AS z
            FROM documents
            WHERE doc_id % 50 <> 0
        ),
        ranked AS (
            SELECT *, NTILE({CURRICULUM_PHASES})
                       OVER (ORDER BY z, doc_id) AS phase
            FROM base
        ),
        roll AS (
            SELECT phase, source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   SUM(z) AS sz
            FROM ranked GROUP BY 1, 2
        )
        SELECT CAST(phase AS INT) AS phase, source, n_docs, n_tokens,
               floor(CAST(sz AS DOUBLE) / n_docs * 1e6) / 1e6
                   AS mean_logit,
               floor(n_tokens
                     / CAST(SUM(n_tokens) OVER (PARTITION BY phase)
                            AS DOUBLE) * 1e6) / 1e6
                   AS phase_token_share
        FROM roll
        ORDER BY phase, source
    """


QUERIES = {
    "text_curation_funnel": text_curation_funnel,
    "text_curriculum_phases": text_curriculum_phases,
}

ORACLES: dict[str, str] = {
    "text_curation_funnel": _funnel_oracle(),
    "text_curriculum_phases": _curriculum_oracle(),
}
