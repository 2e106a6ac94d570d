"""Python UDTF twin, decontamination ops."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_matches_oracle


def test_decontaminate_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "text_decontaminate")


def test_repetition_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "text_repetition_score")


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc sharing an 8-gram with an eval doc is flagged;
    disjoint docs are not."""
    from postgres_s3_etl_spark.operators import text_analysis as ta

    shared = "one two three four five six seven eight"
    rows = [
        (50, f"{shared} eval padding words", "s0", 1),   # eval (id%50==0)
        (1, f"before {shared} after", "s0", 1),          # contaminated train
        (2, "nothing in common with that benchmark text here at all", "s0", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    spans = docs.select(
        "doc_id",
        (F.col("doc_id") % 50 == 0).alias("is_eval"),
        ta._ws_tokens(F.col("text")).alias("w"),
    ).select(
        "doc_id",
        "is_eval",
        F.explode(
            F.expr(
                f"""transform(sequence(1, greatest(size(w) - {ta.DECON_NGRAM - 1}, 1)),
                     i -> md5(concat_ws(' ', slice(w, i, {ta.DECON_NGRAM}))))"""
            )
        ).alias("fp"),
    )
    eval_fps = spans.where(F.col("is_eval")).select("fp").distinct()
    hits = {
        r.doc_id
        for r in spans.where(~F.col("is_eval"))
        .join(eval_fps, "fp", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert hits == {1}


def test_udtf_chunker_matches_engine_chunker(spark):
    """The Python UDTF twin emits exactly the engine-side chunks."""
    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.functions.udtfs import make_chunk_udtf
    from postgres_s3_etl_spark.operators.text_analysis import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunk,
    )

    chunk_udtf = make_chunk_udtf(CHUNK_TOKENS, CHUNK_STRIDE)
    spark.udtf.register("chunk_doc", chunk_udtf)
    load_table(spark, SF_DIR, "documents").createOrReplaceTempView("docs_v")
    got = spark.sql(
        """SELECT d.doc_id, c.chunk_id, c.n_tokens, c.chunk_md5
           FROM docs_v d, LATERAL chunk_doc(d.text) c"""
    ).collect()
    want = text_chunk(spark, SF_DIR).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in want} and len(got) > 0

