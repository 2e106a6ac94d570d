"""Round-14 operators: bloom-filter file-skipping experiment and the
BPE detokenization round-trip.

Pins the VERDICT r13 acceptance bars: bloom beats min/max on the
point-lookup workload, never false-negatives, and its measured FPR
stays within the (1-(1-1/m)^{kn})^k design bound; the BPE id
round-trip is byte-perfect on the whitespace-reversible subset with
every exact-fidelity failure accounted to a documented lossy class.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_DIR, assert_matches_oracle


def test_bloom_pruning_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "layout_bloom_pruning")


def _rows(spark):
    from postgres_s3_etl_spark.operators.layout import (
        layout_bloom_pruning,
    )

    return {
        r.strategy: r for r in layout_bloom_pruning(spark, SF_DIR).collect()
    }


def test_bloom_beats_minmax_on_point_lookups(spark):
    rows = _rows(spark)
    assert set(rows) == {"bloom", "minmax"}
    assert (
        rows["bloom"].total_file_hits < rows["minmax"].total_file_hits
    ), rows
    assert rows["bloom"].fpr < rows["minmax"].fpr


def test_bloom_has_no_false_negatives(spark):
    """Every (file, key) pair the data actually contains must be
    scanned under BOTH strategies — bloom filters and min/max ranges
    can only over-approximate."""
    rows = _rows(spark)
    assert rows["bloom"].containing_hits == rows["minmax"].containing_hits
    for r in rows.values():
        assert r.false_positive_hits == r.total_file_hits - r.containing_hits
        assert 0.0 <= r.fpr <= 1.0


def test_bloom_fpr_within_design_bound(spark):
    """Measured FPR ≤ the classic bound (1-(1-1/m)^{kn})^k evaluated
    at the WORST file's (m, ndv) — recomputed from the parquet with
    DuckDB, independently of both engines' operator code."""
    from postgres_s3_etl_spark.operators.layout import (
        BLOOM_BITS_PER_KEY,
        BLOOM_K,
        BLOOM_MAX_LOG2,
        BLOOM_MIN_LOG2,
        N_FILES,
    )

    con = duckdb.connect()
    ndvs = con.execute(
        f"""
        WITH coded AS (
            SELECT o_custkey AS x,
                   NTILE({N_FILES}) OVER (
                       ORDER BY CAST(o_orderdate AS DATE) - DATE
                           '1970-01-01', o_orderkey) AS file_id
            FROM '{SF_DIR}/orders.parquet'
        )
        SELECT file_id, COUNT(DISTINCT x) AS ndv
        FROM coded GROUP BY file_id
        """
    ).fetchall()
    worst = 0.0
    for _fid, ndv in ndvs:
        m = None
        for p in range(BLOOM_MIN_LOG2, BLOOM_MAX_LOG2 + 1):
            if (1 << p) >= BLOOM_BITS_PER_KEY * ndv:
                m = 1 << p
                break
        m = m or (1 << BLOOM_MAX_LOG2)
        bound = (1.0 - (1.0 - 1.0 / m) ** (BLOOM_K * ndv)) ** BLOOM_K
        worst = max(worst, bound)
    measured = _rows(spark)["bloom"].fpr
    assert measured <= worst, (measured, worst)


def test_bpe_roundtrip_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "text_bpe_roundtrip")


def test_bpe_roundtrip_perfect_on_reversible_corpus(spark):
    """The driver corpus is lowercase and single-spaced, so BOTH
    fidelity levels must be exactly 1.0 with zero lossy or
    unexplained docs — any miss is artifact corruption."""
    from postgres_s3_etl_spark.operators.tokenizer import (
        text_bpe_roundtrip,
    )

    for r in text_bpe_roundtrip(spark, SF_DIR).collect():
        assert r.fidelity_canonical == 1.0, r
        assert r.fidelity_exact == 1.0, r
        assert r.n_unexplained == 0, r


@pytest.fixture()
def lossy_docs(spark, tmp_path):
    """A corpus with every reversibility class planted: clean
    (round-trips exactly), case-lossy, whitespace-lossy, both, and
    an OOV-heavy doc (digits/punctuation — char-fallback lane)."""
    rows = [
        (0, "the quick brown fox jumps the fence", "en", "clean", 35),
        (1, "The Quick brown fox", "en", "lossy", 19),        # case
        (2, "the quick  brown\tfox", "en", "lossy", 20),      # ws
        (3, " The  quick fox ", "en", "lossy", 16),           # both
        (4, "fox 42 jumps, twice!", "en", "clean", 20),       # OOV ok
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_bpe_roundtrip_accounts_every_lossy_class(spark, lossy_docs):
    from postgres_s3_etl_spark.operators import tokenizer
    from postgres_s3_etl_spark.session import SESSION_MEMO

    snap = SESSION_MEMO.snapshot()
    try:
        rows = {
            r.source: r
            for r in tokenizer.text_bpe_roundtrip(
                spark, lossy_docs
            ).collect()
        }
    finally:
        SESSION_MEMO.restore(snap)
    clean, lossy = rows["clean"], rows["lossy"]
    # canonical fidelity is ALWAYS 1.0 — normalization-lossy docs
    # still reassemble to their canonical form
    assert clean.fidelity_canonical == 1.0
    assert lossy.fidelity_canonical == 1.0
    # clean docs (incl. the OOV-heavy one) round-trip byte-exactly
    assert clean.n_exact == clean.n_docs == 2
    # every exact failure is explained by a documented class
    assert lossy.n_exact == 0
    assert lossy.n_case_lossy == 2    # docs 1 and 3
    assert lossy.n_ws_lossy == 2      # docs 2 and 3
    assert lossy.n_unexplained == 0
    assert clean.n_unexplained == 0


def test_crossmodal_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "mm_pair_crossmodal_dedup")


def test_crossmodal_planted_pairs(spark):
    """The planted classes behave: a re-encoded image + paraphrased
    caption is ONE redundant sample (variant dropped, base kept);
    single-modality near-dups (same caption/different images, same
    image/unrelated caption) are reported but never dropped; clean
    pairs are untouched."""
    from postgres_s3_etl_spark.operators.multimodal import (
        N_PHASH_BASE,
        mm_pair_crossmodal_dedup,
    )

    rows = {
        r.pair_id: r
        for r in mm_pair_crossmodal_dedup(spark, SF_DIR).collect()
    }
    assert len(rows) == N_PHASH_BASE + N_PHASH_BASE // 4
    # both-modality dups: every variant except base 8's clusters
    # with its base and is dropped
    for b in range(0, N_PHASH_BASE, 4):
        v = N_PHASH_BASE + b // 4
        if b == 8:
            continue
        assert rows[v].cluster == b and not rows[v].keep, rows[v]
        assert rows[b].keep and rows[b].n_both == 1
    # caption_only: assets 1 and 3 share a near-dup caption over
    # DIFFERENT images — flagged, both kept
    assert rows[1].n_cap_only == 1 and rows[1].keep
    assert rows[3].n_cap_only == 1 and rows[3].keep
    assert rows[3].cluster == 3
    # image_only: base 8's variant (unrelated caption) — flagged,
    # both kept
    v8 = N_PHASH_BASE + 2
    assert rows[8].n_img_only == 1 and rows[8].keep
    assert rows[v8].n_img_only == 1 and rows[v8].keep
    # clean pairs: no partners, kept, singleton clusters
    assert rows[2].n_both == rows[2].n_img_only == rows[2].n_cap_only == 0
    assert rows[2].keep and rows[2].cluster_size == 1
    # global accounting: drops == number of both-clusters' extras
    drops = [r for r in rows.values() if not r.keep]
    assert len(drops) == N_PHASH_BASE // 4 - 1  # 9 variants dropped
