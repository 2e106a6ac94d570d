"""Unigram-LM (SentencePiece-style) tokenizer training (SURVEY.md
§2.4) — the OTHER industrial subword tokenizer next to BPE
(operators/tokenizer.py): Kudo 2018, "Subword Regularization",
simplified to hard-EM (Viterbi counts) with a fixed round/pruning
schedule so the DuckDB oracle can unroll it exactly.

Algorithm, distributed the same way as BPE's word-table formulation:

1. ONE corpus-scale shuffle builds the distinct-word frequency table
   (Heaps-bounded); every EM round operates on that table only.
2. Candidate inventory: all substrings of length 1..PIECE_MAX_LEN of
   the word table, occurrence-weighted; pruned up front to all
   single characters (segmentability guarantee) + the top
   UNIGRAM_KEEP_MULTI multi-char pieces.
3. E-step: per word, the Viterbi segmentation under current piece
   probabilities via a ROW-LOCAL O(len × PIECE_MAX_LEN) DP fold
   (``aggregate`` over positions, nested fold over split points) —
   never an enumeration of the 2^(L-1) segmentations. Piece
   probabilities enter the DP as exact-integer counts divided
   in-engine (``cnt / CAST(total AS DOUBLE)``): +, *, / and
   comparisons on doubles are IEEE-correctly-rounded in BOTH
   engines, so segmentation DECISIONS are bit-identical with zero
   libm in the path; ties break to the smallest split point in both
   (strict ``>`` fold here, ``ORDER BY score DESC, j ASC`` there).
4. M-step: one keyed rollup (piece → Σ freq) over the word table;
   the inventory (≤ 26 + UNIGRAM_KEEP_MULTI rows) is the ONLY
   driver traffic per round — the bounded-K convergence-scalar
   pattern shared with BPE's argmax and the IVF seeds.
5. Pruning per round: keep all single chars (with refreshed counts)
   + top UNIGRAM_KEEP_MULTI multis by (count DESC, piece ASC).

The held-out readout (avg NLL / perplexity) is the one place a
transcendental appears; each word's log-score is floor-pinned to the
1e-9 grid and summed as exact BIGINT, the same discipline (and the
same documented residual ulp risk) as training.py's IRLS/LM ops.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgres_s3_etl_spark.catalog import load_table
from postgres_s3_etl_spark.operators.text_analysis import _ws_tokens
from postgres_s3_etl_spark.session import session_memoized

#: Fixed EM rounds — unrolled verbatim in the DuckDB oracle.
UNIGRAM_ROUNDS = 3
#: Longest candidate piece.
PIECE_MAX_LEN = 6
#: Words longer than this are OOV for training (keeps the oracle's
#: unrolled DP depth fixed; corpus words are far shorter).
WORD_MAX_LEN = 12
#: Multi-char pieces kept per pruning step.
UNIGRAM_KEEP_MULTI = 48
#: Trainable-token gate, mirrored in the oracle.
UNIGRAM_TOKEN_RE = "^[a-z]+$"
#: Held-out split: doc_id % MOD == 0 is held out.
UNIGRAM_HELDOUT_MOD = 5
#: Piece separator inside a segmentation string (chr(2)).
SEG_SEP = "\x02"
#: Log pin grid (matches training.py's PIN discipline).
NLL_PIN = 1_000_000_000


def _word_freq(
    spark: SparkSession, sf_dir: str, split: str | None = None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    if split == "train":
        docs = docs.where(F.col("doc_id") % UNIGRAM_HELDOUT_MOD != 0)
    elif split == "heldout":
        docs = docs.where(F.col("doc_id") % UNIGRAM_HELDOUT_MOD == 0)
    return (
        docs.select(
            F.explode(_ws_tokens(F.lower(F.col("text")))).alias("tok")
        )
        .where(
            F.col("tok").rlike(UNIGRAM_TOKEN_RE)
            & (F.length("tok") <= WORD_MAX_LEN)
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _initial_inventory(words: DataFrame) -> list[tuple[str, int]]:
    """Occurrence-weighted substring counts, pruned IN-ENGINE (the
    raw substring table scales with word types; only the ≤
    26 + UNIGRAM_KEEP_MULTI pruned rows reach the driver)."""
    raw = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(tok)),"
                    f" s -> transform(sequence(1,"
                    f" least({PIECE_MAX_LEN}, length(tok) - s + 1)),"
                    f" l -> substring(tok, s, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    singles = raw.where(F.length("piece") == 1)
    multis = (
        raw.where(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(UNIGRAM_KEEP_MULTI)
    )
    rows = singles.unionAll(multis).collect()
    return [(r["piece"], int(r["cnt"])) for r in rows]


def _dp_expr(total: int) -> str:
    """Viterbi DP as one row-local fold. ``dp`` accumulates
    best-(score, seg) per prefix; the inner fold scans split points
    j ascending with a strict ``>`` so ties keep the SMALLEST j —
    mirrored by the oracle's ``ORDER BY score DESC, j ASC``."""
    piece = "substring(tok, j + 1, i - j)"
    sc = (
        f"element_at(dp, j + 1).score *"
        f" (try_element_at(m, {piece}) / CAST({total} AS DOUBLE))"
    )
    seg = (
        f"CASE WHEN element_at(dp, j + 1).seg = '' THEN {piece}"
        f" ELSE concat(element_at(dp, j + 1).seg, chr(2), {piece}) END"
    )
    inner = (
        f"aggregate(sequence(greatest(0, i - {PIECE_MAX_LEN}), i - 1),"
        f" named_struct('score', CAST(-1.0 AS DOUBLE), 'seg', ''),"
        f" (best, j) -> CASE WHEN {sc} > best.score"
        f" THEN named_struct('score', {sc}, 'seg', {seg})"
        f" ELSE best END)"
    )
    return (
        f"aggregate(sequence(1, length(tok)),"
        f" array(named_struct('score', CAST(1.0 AS DOUBLE), 'seg', '')),"
        f" (dp, i) -> array_append(dp, {inner}),"
        f" dp -> element_at(dp, -1))"
    )


def _map_literal(inv: list[tuple[str, int]]) -> str:
    return "map(" + ", ".join(f"'{p}', {c}L" for p, c in inv) + ")"


def _estep(words: DataFrame, inv: list[tuple[str, int]]) -> DataFrame:
    """Viterbi-segment every word type under the current inventory;
    returns (tok, freq, pieces array, score)."""
    total = sum(c for _, c in inv)
    return (
        words.withColumn("m", F.expr(_map_literal(inv)))
        .withColumn("best", F.expr(_dp_expr(total)))
        .select(
            "tok",
            "freq",
            F.split(F.col("best.seg"), SEG_SEP).alias("pieces"),
            F.col("best.score").alias("score"),
        )
    )


def _prune(
    inv: list[tuple[str, int]], counts: dict[str, int]
) -> list[tuple[str, int]]:
    singles = sorted(
        (p, counts.get(p, 0)) for p, _ in inv if len(p) == 1
    )
    multis = sorted(
        ((p, counts.get(p, 0)) for p, _ in inv if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:UNIGRAM_KEEP_MULTI]
    return singles + multis


def _run_em(
    words: DataFrame,
) -> tuple[list[tuple[str, int]], list[tuple]]:
    """Fixed-schedule EM; returns (final inventory, per-round stats
    rows). Per round the driver sees the ≤ 74-row inventory and two
    scalars — per-round cost is vocab-bounded, the corpus pass in
    ``_word_freq`` is the only linear term."""
    inv = _initial_inventory(words)
    if not inv or sum(c for _, c in inv) == 0:
        return [], []
    # Round-15 (guide §1.2 "don't compute things twice"): the old
    # per-round `est` aggregate ran the Viterbi DP a SECOND time per
    # round for two values that are derivable — toks = Σ freq is
    # segmentation-independent (one job, before the loop), and
    # occ = Σ freq·|pieces| is exactly the integer sum of the
    # per-piece M-step counts (each piece OCCURRENCE contributes
    # freq to its piece's count). One DP pass per round instead of
    # two; identical integers, identical rows.
    toks = int(
        words.agg(F.sum("freq").cast("bigint").alias("t")).collect()[
            0
        ]["t"]
    )
    rounds: list[tuple] = []
    for rnd in range(1, UNIGRAM_ROUNDS + 1):
        n_pieces_used = len(inv)
        seg = _estep(words, inv)
        counts = {
            r["piece"]: int(r["cnt"])
            for r in seg.select(
                "freq", F.explode("pieces").alias("piece")
            )
            .groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .collect()
        }
        inv = _prune(inv, counts)
        occ = sum(counts.values())
        top = min(inv, key=lambda t: (-t[1], t[0]))
        rounds.append(
            (
                rnd,
                n_pieces_used,
                sum(1 for p, _ in inv if len(p) > 1),
                sum(c for _, c in inv),
                toks,
                math.floor(occ / toks * 1e6) / 1e6,
                top[0],
                top[1],
            )
        )
    return inv, rounds


#: Memoized per (sf_dir, split) in the shared session memo — the
#: train/vocab/heldout operators share one EM run per corpus instead
#: of re-training (the tokenizer.py _train_merges rationale). Values
#: are plain Python lists/tuples, session-lifetime safe.
@session_memoized
def _trained(
    spark: SparkSession, sf_dir: str, split: str | None = None
) -> tuple[list[tuple[str, int]], list[tuple]]:
    return _run_em(_word_freq(spark, sf_dir, split).localCheckpoint())


_TRAIN_SCHEMA = (
    "round int, n_pieces bigint, n_multi_pieces bigint,"
    " total_occ bigint, n_tokens bigint,"
    " avg_pieces_per_token double, top_piece string,"
    " top_piece_cnt bigint"
)


def text_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram-LM tokenizer for UNIGRAM_ROUNDS hard-EM
    rounds; emit the per-round training table (inventory sizes,
    Viterbi piece occupancy, avg pieces per token, top piece).

    Scale shape: one corpus word-count shuffle; each round is a
    row-local DP over the distinct-word table + one vocab-bounded
    rollup whose ≤ 74-row result is the only driver traffic (α row
    in BASELINE.md). No libm anywhere in the segmentation decisions.
    """
    _inv, rounds = _trained(spark, sf_dir)
    if not rounds:
        return spark.createDataFrame([], _TRAIN_SCHEMA)
    return spark.createDataFrame(rounds, _TRAIN_SCHEMA).orderBy("round")


_VOCAB_SCHEMA = (
    "piece_id int, piece string, occurrences bigint,"
    " prob double, is_multi boolean"
)


def text_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained piece inventory as the deployable artifact:
    (piece_id by occurrences DESC / piece ASC, piece, Viterbi
    occurrences, floor-pinned probability, is_multi)."""
    inv, rounds = _trained(spark, sf_dir)
    if not rounds:
        return spark.createDataFrame([], _VOCAB_SCHEMA)
    total = sum(c for _, c in inv)
    ranked = sorted(inv, key=lambda t: (-t[1], t[0]))
    rows = [
        (
            i + 1,
            p,
            c,
            math.floor(c / total * 1e6) / 1e6 if total else None,
            len(p) > 1,
        )
        for i, (p, c) in enumerate(ranked)
    ]
    return spark.createDataFrame(rows, _VOCAB_SCHEMA).orderBy("piece_id")


_ENCODE_SCHEMA = (
    "source string, n_tokens bigint, n_oov bigint, n_pieces bigint,"
    " avg_pieces_per_token double, oov_share double"
)


def text_unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode path: apply the trained inventory to the corpus and
    report per-source tokenization cost (pieces per trainable token,
    OOV share) — the unigram twin of ``text_bpe_encode``.

    Scale shape: encoding is a LOOKUP, not a re-segmentation — the
    word table is Viterbi-segmented ONCE (Heaps-bounded) and the
    word→piece-count map is broadcast onto the corpus token stream;
    the DP never touches corpus-scale data.
    """
    inv, rounds = _trained(spark, sf_dir)
    if not rounds:
        return spark.createDataFrame([], _ENCODE_SCHEMA)
    words = _word_freq(spark, sf_dir)
    word_cost = _estep(words, inv).select(
        "tok", F.size("pieces").cast("bigint").alias("n_p")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(_ws_tokens(F.lower(F.col("text")))).alias("tok"),
    )
    joined = toks.join(F.broadcast(word_cost), "tok", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("n_p").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.sum(F.coalesce(F.col("n_p"), F.lit(0)))
            .cast("bigint")
            .alias("n_pieces"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            "n_pieces",
            F.when(
                F.col("n_tokens") > F.col("n_oov"),
                F.floor(
                    F.col("n_pieces").cast("double")
                    / (F.col("n_tokens") - F.col("n_oov"))
                    * 1e6
                )
                / 1e6,
            ).alias("avg_pieces_per_token"),
            (
                F.floor(
                    F.col("n_oov").cast("double")
                    / F.col("n_tokens")
                    * 1e6
                )
                / 1e6
            ).alias("oov_share"),
        )
        .orderBy("source")
    )


_HELDOUT_SCHEMA = (
    "n_heldout_tokens bigint, n_heldout_types bigint,"
    " oov_char_tokens bigint, zero_prob_tokens bigint,"
    " scored_tokens bigint, avg_pieces_per_token double,"
    " avg_nll double, perplexity double"
)


def text_unigram_lm_heldout(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Held-out quality of the trained tokenizer: train on
    doc_id % 5 != 0, evaluate Viterbi NLL/perplexity on the held-out
    fifth. Words with characters unseen in training are OOV; words
    whose best segmentation has probability 0 (a piece starved to
    count 0) are reported separately — both are the honest failure
    modes a deployed tokenizer meets.

    The per-word log-score is the ONLY transcendental: floor-pinned
    to 1e-9, freq-weighted, summed as exact BIGINT (training.py's
    discipline), then the avg-NLL and perplexity readouts are
    floor-truncated doubles.
    """
    inv, rounds = _trained(spark, sf_dir, "train")
    if not rounds:
        return spark.createDataFrame([], _HELDOUT_SCHEMA)
    # Round-15 (guide §1.2/§5): checkpoint the held-out word table —
    # the emptiness probe and the scoring aggregate previously each
    # re-ran the corpus scan + tokenize + groupBy from scratch.
    hw = _word_freq(spark, sf_dir, "heldout").localCheckpoint()
    if not hw.take(1):
        return spark.createDataFrame([], _HELDOUT_SCHEMA)
    total = sum(c for _, c in inv)
    # Round-15: ONE pass instead of two — the old `base` aggregate
    # scanned hw2 (map literal + forall per word) and the `sc`
    # aggregate scanned it AGAIN with the DP on top. The DP is
    # gated behind char_ok (CASE WHEN branches evaluate lazily), so
    # it still runs only on segmentable words; every sum is the same
    # integer over the same rows, merely computed in one job.
    hw2 = hw.withColumn("m", F.expr(_map_literal(inv))).withColumn(
        "char_ok",
        F.expr(
            "forall(sequence(1, length(tok)),"
            " i -> try_element_at(m, substring(tok, i, 1)) IS NOT NULL)"
        ),
    )
    seg = hw2.withColumn(
        "best", F.when(F.col("char_ok"), F.expr(_dp_expr(total)))
    ).select(
        "freq",
        "char_ok",
        F.split(F.col("best.seg"), SEG_SEP).alias("pieces"),
        F.col("best.score").alias("score"),
    )
    ok = F.col("char_ok")
    sc = seg.agg(
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(~ok, F.col("freq")).otherwise(0))
        .cast("bigint")
        .alias("oov"),
        F.sum(
            F.when(ok & (F.col("score") <= 0), F.col("freq")).otherwise(0)
        )
        .cast("bigint")
        .alias("zero"),
        F.sum(
            F.when(ok & (F.col("score") > 0), F.col("freq")).otherwise(0)
        )
        .cast("bigint")
        .alias("scored"),
        F.sum(
            F.when(
                ok & (F.col("score") > 0),
                F.col("freq") * F.size("pieces"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("occ"),
        F.sum(
            F.when(
                ok & (F.col("score") > 0),
                F.col("freq")
                * F.floor(F.log("score") * F.lit(NLL_PIN)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("ll_pinned"),
    ).collect()[0]
    base = sc
    scored = int(sc["scored"] or 0)
    if scored > 0:
        avg_nll_raw = -(int(sc["ll_pinned"]) / NLL_PIN) / scored
        avg_pieces = math.floor(int(sc["occ"]) / scored * 1e6) / 1e6
        avg_nll = math.floor(avg_nll_raw * 1e6) / 1e6
        ppl = math.floor(math.exp(avg_nll_raw) * 1e6) / 1e6
    else:
        avg_pieces = avg_nll = ppl = None
    row = (
        int(base["n_tokens"]),
        int(base["n_types"]),
        int(base["oov"]),
        int(sc["zero"] or 0),
        scored,
        avg_pieces,
        avg_nll,
        ppl,
    )
    return spark.createDataFrame([row], _HELDOUT_SCHEMA)


# --- DuckDB oracle (unrolled EM chain) -------------------------------


def _wf_cte(name: str, doc_where: str) -> str:
    return rf"""{name} AS MATERIALIZED (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                FROM documents{doc_where}
            )
            WHERE regexp_full_match(tok, '[a-z]+')
              AND len(tok) <= {WORD_MAX_LEN}
            GROUP BY tok
        )"""


def _inv0_ctes(base: str) -> str:
    return f"""inv0_raw AS (
            SELECT substring(tok, s, l) AS piece,
                   CAST(SUM(freq) AS BIGINT) AS cnt
            FROM {base},
                 generate_series(1, {WORD_MAX_LEN}) gs(s),
                 generate_series(1, {PIECE_MAX_LEN}) gl(l)
            WHERE s <= len(tok) AND s + l - 1 <= len(tok)
            GROUP BY 1
        ),
        inv0 AS MATERIALIZED (
            SELECT piece, cnt FROM inv0_raw WHERE len(piece) = 1
            UNION ALL
            SELECT piece, cnt FROM (
                SELECT piece, cnt FROM inv0_raw WHERE len(piece) > 1
                ORDER BY cnt DESC, piece ASC
                LIMIT {UNIGRAM_KEEP_MULTI}
            ) t
        )"""


def _dp_round_ctes(tag: str, base: str, inv: str) -> str:
    """Unrolled Viterbi DP over positions 1..WORD_MAX_LEN for every
    word in ``base`` under inventory ``inv``; emits seg{tag}."""
    parts = [
        f"""tot{tag} AS (
            SELECT CAST(SUM(cnt) AS DOUBLE) AS td FROM {inv}
        ),
        dp{tag}_0 AS (
            SELECT tok, freq, CAST(1.0 AS DOUBLE) AS score, '' AS seg
            FROM {base}
        )"""
    ]
    for i in range(1, WORD_MAX_LEN + 1):
        branches = []
        for j in range(max(0, i - PIECE_MAX_LEN), i):
            branches.append(
                f"""SELECT d.tok, d.freq,
                       d.score * (pc.cnt / t.td) AS score,
                       CASE WHEN d.seg = '' THEN pc.piece
                            ELSE d.seg || chr(2) || pc.piece END AS seg,
                       {j} AS j
                FROM dp{tag}_{j} d
                JOIN {inv} pc
                  ON pc.piece = substring(d.tok, {j + 1}, {i - j})
                CROSS JOIN tot{tag} t
                WHERE len(d.tok) >= {i}"""
            )
        union = "\n                UNION ALL\n                ".join(
            branches
        )
        parts.append(
            f"""dp{tag}_{i} AS MATERIALIZED (
            SELECT tok, freq, score, seg FROM (
                SELECT c.*, ROW_NUMBER() OVER (
                    PARTITION BY tok ORDER BY score DESC, j ASC) AS rn
                FROM (
                {union}
                ) c
            ) WHERE rn = 1
        )"""
        )
    seg_union = "\n            UNION ALL ".join(
        f"SELECT tok, freq, score, seg FROM dp{tag}_{i}"
        f" WHERE len(tok) = {i}"
        for i in range(1, WORD_MAX_LEN + 1)
    )
    parts.append(
        f"""seg{tag} AS MATERIALIZED (
            {seg_union}
        )"""
    )
    return ",\n        ".join(parts)


def _em_round_ctes(r: int) -> str:
    """Round r: DP under inv{r-1} -> M-step counts -> pruned inv{r}
    + the round's stats scalars."""
    dp = _dp_round_ctes(f"r{r}", "wf", f"inv{r - 1}")
    return f"""{dp},
        mst{r} AS (
            SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT freq,
                         unnest(string_split(seg, chr(2))) AS piece
                  FROM segr{r})
            GROUP BY piece
        ),
        est{r} AS (
            SELECT CAST(SUM(freq * len(string_split(seg, chr(2))))
                        AS BIGINT) AS occ,
                   CAST(SUM(freq) AS BIGINT) AS toks
            FROM segr{r}
        ),
        inv{r} AS MATERIALIZED (
            SELECT i.piece, COALESCE(m.cnt, 0) AS cnt
            FROM inv{r - 1} i LEFT JOIN mst{r} m USING (piece)
            WHERE len(i.piece) = 1
            UNION ALL
            SELECT piece, cnt FROM (
                SELECT i.piece, COALESCE(m.cnt, 0) AS cnt
                FROM inv{r - 1} i LEFT JOIN mst{r} m USING (piece)
                WHERE len(i.piece) > 1
                ORDER BY cnt DESC, piece ASC
                LIMIT {UNIGRAM_KEEP_MULTI}
            ) t
        ),
        row{r} AS (
            SELECT {r} AS round,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM inv{r - 1})
                       AS n_pieces,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM inv{r}
                    WHERE len(piece) > 1) AS n_multi_pieces,
                   (SELECT CAST(SUM(cnt) AS BIGINT) FROM inv{r})
                       AS total_occ,
                   e.toks AS n_tokens,
                   floor(CAST(e.occ AS DOUBLE) / e.toks * 1e6) / 1e6
                       AS avg_pieces_per_token,
                   tp.piece AS top_piece,
                   tp.cnt AS top_piece_cnt
            FROM est{r} e
            CROSS JOIN (SELECT piece, cnt FROM inv{r}
                        ORDER BY cnt DESC, piece ASC LIMIT 1) tp
        )"""


def _train_chain(doc_where: str) -> str:
    parts = [_wf_cte("wf", doc_where), _inv0_ctes("wf")]
    for r in range(1, UNIGRAM_ROUNDS + 1):
        parts.append(_em_round_ctes(r))
    return ",\n        ".join(parts)


def _unigram_train_oracle() -> str:
    rows = "\n            UNION ALL ".join(
        f"SELECT * FROM row{r}" for r in range(1, UNIGRAM_ROUNDS + 1)
    )
    return f"""
        WITH {_train_chain("")}
        SELECT CAST(round AS INT) AS round, n_pieces, n_multi_pieces,
               total_occ, n_tokens, avg_pieces_per_token,
               top_piece, top_piece_cnt
        FROM ({rows})
        ORDER BY round
    """


def _unigram_vocab_oracle() -> str:
    n = UNIGRAM_ROUNDS
    return f"""
        WITH {_train_chain("")},
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM inv{n})
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY cnt DESC, piece ASC) AS INT) AS piece_id,
               piece, cnt AS occurrences,
               floor(CAST(cnt AS DOUBLE) / t.t * 1e6) / 1e6 AS prob,
               len(piece) > 1 AS is_multi
        FROM inv{n} CROSS JOIN tot t
        ORDER BY piece_id
    """


def _unigram_heldout_oracle() -> str:
    n = UNIGRAM_ROUNDS
    train = _train_chain(
        f" WHERE doc_id % {UNIGRAM_HELDOUT_MOD} <> 0"
    )
    hw = _wf_cte(
        "hw", f" WHERE doc_id % {UNIGRAM_HELDOUT_MOD} = 0"
    )
    eval_dp = _dp_round_ctes("e", "hw_ok", f"inv{n}")
    return f"""
        WITH {train},
        {hw},
        hchars AS (
            SELECT tok, substring(tok, i, 1) AS c
            FROM hw, generate_series(1, {WORD_MAX_LEN}) g(i)
            WHERE i <= len(tok)
        ),
        bad AS (
            SELECT DISTINCT hc.tok
            FROM hchars hc
            LEFT JOIN (SELECT piece FROM inv{n} WHERE len(piece) = 1) s
                   ON hc.c = s.piece
            WHERE s.piece IS NULL
        ),
        hw_ok AS MATERIALIZED (
            SELECT h.tok, h.freq FROM hw h
            LEFT JOIN bad b USING (tok) WHERE b.tok IS NULL
        ),
        {eval_dp},
        hbase AS (
            SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(COALESCE(SUM(CASE WHEN b.tok IS NOT NULL
                                          THEN freq END), 0)
                        AS BIGINT) AS oov
            FROM hw h LEFT JOIN bad b USING (tok)
        ),
        hsc AS (
            SELECT CAST(COALESCE(SUM(CASE WHEN score <= 0
                                          THEN freq END), 0)
                        AS BIGINT) AS zero,
                   CAST(COALESCE(SUM(CASE WHEN score > 0
                                          THEN freq END), 0)
                        AS BIGINT) AS scored,
                   CAST(COALESCE(SUM(CASE WHEN score > 0 THEN
                       freq * len(string_split(seg, chr(2))) END), 0)
                        AS BIGINT) AS occ,
                   CAST(COALESCE(SUM(CASE WHEN score > 0 THEN
                       freq * CAST(floor(ln(score) * {NLL_PIN})
                                   AS BIGINT) END), 0)
                        AS BIGINT) AS ll_pinned
            FROM sege
        )
        SELECT b.n_tokens AS n_heldout_tokens,
               b.n_types AS n_heldout_types,
               b.oov AS oov_char_tokens,
               s.zero AS zero_prob_tokens,
               s.scored AS scored_tokens,
               CASE WHEN s.scored > 0 THEN
                   floor(CAST(s.occ AS DOUBLE) / s.scored * 1e6) / 1e6
               END AS avg_pieces_per_token,
               CASE WHEN s.scored > 0 THEN
                   floor(-(CAST(s.ll_pinned AS DOUBLE) / {NLL_PIN:.1f})
                         / s.scored * 1e6) / 1e6
               END AS avg_nll,
               CASE WHEN s.scored > 0 THEN
                   floor(exp(-(CAST(s.ll_pinned AS DOUBLE)
                               / {NLL_PIN:.1f}) / s.scored) * 1e6) / 1e6
               END AS perplexity
        FROM hbase b CROSS JOIN hsc s
        WHERE (SELECT COUNT(*) FROM wf) > 0
          AND (SELECT COUNT(*) FROM hw) > 0
    """


def _unigram_encode_oracle() -> str:
    n = UNIGRAM_ROUNDS
    eval_dp = _dp_round_ctes("e", "wf", f"inv{n}")
    return rf"""
        WITH {_train_chain("")},
        {eval_dp},
        word_cost AS (
            SELECT tok,
                   CAST(len(string_split(seg, chr(2))) AS BIGINT) AS n_p
            FROM sege
        ),
        toks AS (
            SELECT source,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents
        ),
        agg AS (
            SELECT t.source,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN w.n_p IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   CAST(SUM(COALESCE(w.n_p, 0)) AS BIGINT) AS n_pieces
            FROM toks t LEFT JOIN word_cost w ON t.tok = w.tok
            GROUP BY t.source
        )
        SELECT source, n_tokens, n_oov, n_pieces,
               CASE WHEN n_tokens > n_oov THEN
                   floor(CAST(n_pieces AS DOUBLE) / (n_tokens - n_oov)
                         * 1e6) / 1e6
               END AS avg_pieces_per_token,
               floor(CAST(n_oov AS DOUBLE) / n_tokens * 1e6) / 1e6
                   AS oov_share
        FROM agg
        ORDER BY source
    """


QUERIES = {
    "text_unigram_lm_train": text_unigram_lm_train,
    "text_unigram_lm_vocab": text_unigram_lm_vocab,
    "text_unigram_lm_encode": text_unigram_lm_encode,
    "text_unigram_lm_heldout": text_unigram_lm_heldout,
}

ORACLES = {
    "text_unigram_lm_train": _unigram_train_oracle(),
    "text_unigram_lm_vocab": _unigram_vocab_oracle(),
    "text_unigram_lm_encode": _unigram_encode_oracle(),
    "text_unigram_lm_heldout": _unigram_heldout_oracle(),
}
