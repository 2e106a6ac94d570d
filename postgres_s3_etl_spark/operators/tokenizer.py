"""Distributed tokenizer training (SURVEY.md §2.4): BPE merge
learning over the corpus, plus the encode path that applies the
learned merges — the tokenizer-side operators an LLM training-data
pipeline needs beyond vocabulary *sizing* (``text_vocab_coverage``)
and regex *pre-tokenization* (``text_tokens``).

Algorithm (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units"): start from
characters, repeatedly merge the most frequent adjacent symbol pair.
The distributed formulation is the word-level one from the paper:

1. ONE corpus-scale shuffle builds the distinct-word frequency
   table (the classic word-count); everything after operates on
   that table, which is orders of magnitude smaller than the corpus
   (Heaps' law) — at 100 TB this is the only corpus-sized pass.
2. Each merge round is a bounded rollup over the word table:
   row-local adjacent-pair explode (weighted by word frequency) →
   one keyed aggregation (map-side combinable) → the argmax pair, a
   ONE-ROW driver collect (the pagerank convergence-scalar pattern)
   → a row-local string ``replace`` applies the merge. Rounds are
   fixed (``BPE_ROUNDS``) so the DuckDB oracle unrolls exactly.

Cross-engine exactness: a word's symbol sequence is stored as each
symbol wrapped in a ``\\x01`` sentinel (``·a··b·``), so applying a
merge is one literal ``replace(repr, ·x··y·, ·xy·)`` — and both
Spark's and DuckDB's ``replace`` scan left-to-right, non-overlapping,
continuing after each replacement, which IS greedy BPE merge
application (verified for the ``aaa`` overlap case). All counts are
exact integers; the single float (avg symbols per token) is a
floor-truncated double division of two exact BIGINTs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_s3_etl_spark.catalog import load_table
from postgres_s3_etl_spark.operators.text_analysis import _ws_tokens
from postgres_s3_etl_spark.session import session_memoized

#: Symbol sentinel. Each symbol is stored as \x01sym\x01 so literal
#: string replace of a sentinel-wrapped pair can never match across
#: symbol boundaries (e.g. pair (b, c) inside symbols [ab, c]).
SEP = "\x01"

#: Fixed merge-round count — unrolled verbatim in the DuckDB oracle.
BPE_ROUNDS = 12

#: Trainable-token gate: lowercase ASCII words only (keeps char
#: indexing byte-exact in both engines; everything else is OOV).
BPE_TOKEN_RE = "^[a-z]+$"

_SYMS = f"split(substring(repr, 2, length(repr) - 2), '{SEP}{SEP}')"

_PAIRS_EXPR = (
    "case when size(s) >= 2 then"
    " transform(sequence(1, size(s) - 1),"
    " i -> named_struct('x', element_at(s, i), 'y', element_at(s, i + 1)))"
    " else cast(array() as array<struct<x: string, y: string>>) end"
)


def _word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word frequency table with char-level symbol repr."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_ws_tokens(F.lower(F.col("text")))).alias("tok"))
        .where(F.col("tok").rlike(BPE_TOKEN_RE))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            "tok",
            F.expr(
                "concat_ws('', transform(sequence(1, length(tok)),"
                " i -> concat(chr(1), substring(tok, i, 1), chr(1))))"
            ).alias("repr"),
            "freq",
        )
    )


#: Memoized per (sf_dir, track_curve) in the shared session memo:
#: the four BPE-family operators each need the trained state, and
#: without the memo a bench run covering the family re-runs the full
#: 12-round merge loop (12 shuffles + collects) FOUR times (round-8
#: ADVICE). The vocab frame is localCheckpointed, so it stays valid
#: for the lifetime of the application the memo keys it by.
@session_memoized
def _train_merges(
    spark: SparkSession, sf_dir: str, track_curve: bool = False
) -> tuple[
    DataFrame, list[tuple[int, str, str, int]], list[tuple[int, int]]
]:
    """Run ``BPE_ROUNDS`` merge rounds; return (final vocab, merges,
    per-round curve [(round, sym_occ)] — empty unless requested).

    Each round: pair rollup → one-row collect (argmax pair with the
    deterministic tie-break count DESC, x ASC, y ASC) → row-local
    replace. ``localCheckpoint`` per round truncates lineage so round
    N doesn't re-run rounds 1..N-1 (the iterative-kernel recipe).
    """
    vocab = _word_vocab(spark, sf_dir).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    curve: list[tuple[int, int]] = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pairs = vocab.select(
            "freq", F.expr(_SYMS).alias("s")
        ).select("freq", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        top = (
            pairs.groupBy(
                F.col("p.x").alias("x"), F.col("p.y").alias("y")
            )
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("x"), F.asc("y"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        x, y, cnt = top[0]["x"], top[0]["y"], int(top[0]["cnt"])
        merges.append((rnd, x, y, cnt))
        vocab = vocab.select(
            "tok",
            F.replace(
                F.col("repr"),
                F.lit(SEP + x + SEP + SEP + y + SEP),
                F.lit(SEP + x + y + SEP),
            ).alias("repr"),
            "freq",
        )
        # Round-15 (guide §5): the per-round replace is a row-local
        # narrow op over the checkpointed word table, so materializing
        # EVERY round bought nothing — checkpoint every 4th round
        # (and the last, which the memo's consumers reuse).
        # The next round's pair rollup re-applies at most 3 chained
        # string replaces, far cheaper than a materialization job
        # (interleaved A/B at sf0.1, merges asserted identical:
        # cadence-4 beat per-round on all 4 reps, best 2.40 → 2.09 s,
        # median 2.99 → 2.53 s). The curve path keeps per-round
        # checkpoints — it reads the vocab every round anyway.
        if track_curve or rnd % 4 == 0 or rnd == BPE_ROUNDS:
            vocab = vocab.localCheckpoint()
        if track_curve:
            occ = vocab.agg(
                F.sum(F.col("freq") * F.size(F.expr(_SYMS)))
                .cast("bigint")
                .alias("o")
            ).collect()[0]["o"]
            curve.append((rnd, int(occ)))
    return vocab, merges, curve


_TRAIN_SCHEMA = (
    "round int, left_sym string, right_sym string, pair_count bigint,"
    " merged_sym string, n_words bigint, total_tokens bigint,"
    " vocab_size bigint, avg_symbols_per_token double"
)


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn ``BPE_ROUNDS`` BPE merges from the corpus; emit the
    merge table (round, pair, count) plus final-vocab stats.

    Scale shape: one corpus word-count shuffle up front; then every
    round is a rollup over the distinct-word table whose only driver
    traffic is the single argmax row — corpus-linear total cost with
    a constant number of rounds (α row in BASELINE.md).
    """
    vocab, merges, _curve = _train_merges(spark, sf_dir)
    if not merges:
        return spark.createDataFrame([], _TRAIN_SCHEMA)
    syms = vocab.select(F.expr(_SYMS).alias("s"), "freq")
    st = syms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("freq").cast("bigint").alias("total_tokens"),
        F.sum(F.col("freq") * F.size("s")).cast("bigint").alias("sym_occ"),
    ).collect()[0]
    vocab_size = int(
        syms.select(F.explode("s").alias("sym"))
        .agg(F.countDistinct("sym").alias("v"))
        .collect()[0]["v"]
    )
    avg = math.floor(int(st["sym_occ"]) / int(st["total_tokens"]) * 1e6) / 1e6
    rows = [
        (
            rnd,
            x,
            y,
            cnt,
            x + y,
            int(st["n_words"]),
            int(st["total_tokens"]),
            vocab_size,
            avg,
        )
        for (rnd, x, y, cnt) in merges
    ]
    return spark.createDataFrame(rows, _TRAIN_SCHEMA).orderBy("round")


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges to the corpus and report per-source
    tokenization cost: symbols per (trainable) token, and the OOV
    share the char-level fallback would carry.

    Scale shape: encoding is a LOOKUP, not a re-merge — the trained
    word→symbol-count table is joined (broadcast-sized: distinct
    words ≪ corpus) onto the corpus token stream; merges never touch
    corpus-scale data.
    """
    vocab, _merges, _curve = _train_merges(spark, sf_dir)
    word_cost = vocab.select(
        "tok", F.size(F.expr(_SYMS)).cast("bigint").alias("n_syms")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(_ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    joined = toks.join(F.broadcast(word_cost), "tok", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("n_syms").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.sum(F.coalesce(F.col("n_syms"), F.lit(0)))
            .cast("bigint")
            .alias("n_symbols"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            "n_symbols",
            F.when(
                F.col("n_tokens") > F.col("n_oov"),
                F.floor(
                    F.col("n_symbols").cast("double")
                    / (F.col("n_tokens") - F.col("n_oov"))
                    * 1e6
                )
                / 1e6,
            ).alias("avg_symbols_per_token"),
            (F.floor(F.col("n_oov").cast("double") / F.col("n_tokens") * 1e6) / 1e6).alias(
                "oov_share"
            ),
        )
        .orderBy("source")
    )


def text_bpe_compression_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BPE tuning curve: corpus symbol count after EACH merge
    round — the diminishing-returns readout that decides how many
    merges a vocabulary budget is worth (the tokenizer twin of
    ``dedup_banding_tradeoff`` / ``sim_search_ivf_nprobe_curve``:
    the operating-point sweep as data, in-engine).

    Same plan as training (the curve is a per-round one-row rollup
    over the already-checkpointed word table); character baseline =
    symbol count before any merge.
    """
    vocab, merges, curve = _train_merges(spark, sf_dir, track_curve=True)
    out_schema = (
        "round int, merged_sym string, pair_count bigint,"
        " sym_occ bigint, avg_symbols_per_token double,"
        " saved_vs_chars double"
    )
    if not merges:
        return spark.createDataFrame([], out_schema)
    base = (
        _word_vocab(spark, sf_dir)
        .agg(
            F.sum(F.col("freq") * F.length("tok"))
            .cast("bigint")
            .alias("char_occ"),
            F.sum("freq").cast("bigint").alias("total_tokens"),
        )
        .collect()[0]
    )
    char_occ, total_tokens = int(base["char_occ"]), int(base["total_tokens"])
    rows = [
        (
            rnd,
            x + y,
            cnt,
            occ,
            math.floor(occ / total_tokens * 1e6) / 1e6,
            math.floor((1.0 - occ / char_occ) * 1e6) / 1e6,
        )
        for (rnd, x, y, cnt), (_r, occ) in zip(merges, curve)
    ]
    return spark.createDataFrame(rows, out_schema).orderBy("round")


def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained vocabulary as a table — the artifact an encode
    deployment actually loads: (token_id, symbol, corpus occurrences,
    word types containing it, is_merged). token_id assigns rank by
    (occurrences DESC, symbol ASC) — the conventional
    frequency-ordered id space.

    Scale shape: one rollup over the word table; the vocabulary is
    BOUNDED (≤ distinct characters + ``BPE_ROUNDS`` merges, ≤ ~38
    symbols here), so the ranking window runs on a constant-size
    frame regardless of corpus size.
    """
    vocab, _merges, _curve = _train_merges(spark, sf_dir)
    from pyspark.sql import Window

    syms = vocab.select(F.explode(F.expr(_SYMS)).alias("symbol"), "freq")
    w = Window.orderBy(F.desc("occurrences"), F.asc("symbol"))
    return (
        syms.groupBy("symbol")
        .agg(
            F.sum("freq").cast("bigint").alias("occurrences"),
            F.count(F.lit(1)).cast("bigint").alias("n_word_types"),
        )
        .withColumn("token_id", F.row_number().over(w).cast("int"))
        .select(
            "token_id",
            "symbol",
            "occurrences",
            "n_word_types",
            (F.length("symbol") > 1).alias("is_merged"),
        )
        .orderBy("token_id")
    )


def _bpe_chain_ctes() -> str:
    """The unrolled train chain: v0 (char-level word vocab) then per
    round r: s{r} symbols → p{r} pairs → m{r} argmax → v{r} merged."""
    parts = [
        rf"""wf AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                FROM documents
            )
            WHERE regexp_full_match(tok, '[a-z]+')
            GROUP BY tok
        ),
        v0 AS MATERIALIZED (
            SELECT tok,
                   array_to_string([chr(1) || tok[i:i] || chr(1)
                                    for i in generate_series(1, len(tok))], '')
                       AS repr,
                   freq
            FROM wf
        )"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""s{r} AS (
            SELECT tok, freq,
                   string_split(repr[2:len(repr) - 1], chr(1) || chr(1)) AS s
            FROM v{r - 1}
        ),
        p{r} AS (
            SELECT unnest(s[1:len(s) - 1]) AS x,
                   unnest(s[2:len(s)]) AS y,
                   freq
            FROM s{r} WHERE len(s) >= 2
        ),
        m{r} AS MATERIALIZED (
            SELECT x, y, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM p{r} GROUP BY x, y
            ORDER BY cnt DESC, x, y LIMIT 1
        ),
        v{r} AS MATERIALIZED (
            SELECT v.tok,
                   CASE WHEN m.x IS NULL THEN v.repr
                        ELSE replace(v.repr,
                                     chr(1) || m.x || chr(1) || chr(1) || m.y || chr(1),
                                     chr(1) || m.x || m.y || chr(1))
                   END AS repr,
                   v.freq
            FROM v{r - 1} v LEFT JOIN m{r} m ON TRUE
        )"""
        )
    return ",\n        ".join(parts)


def _bpe_train_oracle() -> str:
    n = BPE_ROUNDS
    merge_union = "\n            UNION ALL ".join(
        f"SELECT {r} AS round, x, y, cnt FROM m{r}" for r in range(1, n + 1)
    )
    return f"""
        WITH {_bpe_chain_ctes()},
        final_syms AS MATERIALIZED (
            SELECT freq,
                   string_split(repr[2:len(repr) - 1], chr(1) || chr(1)) AS s
            FROM v{n}
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(freq) AS BIGINT) AS total_tokens,
                   CAST(SUM(freq * len(s)) AS BIGINT) AS sym_occ
            FROM final_syms
        ),
        vsize AS (
            SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_size
            FROM (SELECT unnest(s) AS sym FROM final_syms)
        )
        SELECT m.round, m.x AS left_sym, m.y AS right_sym,
               m.cnt AS pair_count, m.x || m.y AS merged_sym,
               st.n_words, st.total_tokens, v.vocab_size,
               floor(CAST(st.sym_occ AS DOUBLE) / st.total_tokens * 1e6) / 1e6
                   AS avg_symbols_per_token
        FROM ({merge_union}) m
        CROSS JOIN stats st CROSS JOIN vsize v
        ORDER BY m.round
    """


def _bpe_encode_oracle() -> str:
    n = BPE_ROUNDS
    return rf"""
        WITH {_bpe_chain_ctes()},
        word_cost AS (
            SELECT tok,
                   CAST(len(string_split(repr[2:len(repr) - 1],
                                         chr(1) || chr(1))) AS BIGINT) AS n_syms
            FROM v{n}
        ),
        toks AS (
            SELECT source,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents
        ),
        agg AS (
            SELECT t.source,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN w.n_syms IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   CAST(SUM(COALESCE(w.n_syms, 0)) AS BIGINT) AS n_symbols
            FROM toks t LEFT JOIN word_cost w ON t.tok = w.tok
            GROUP BY t.source
        )
        SELECT source, n_tokens, n_oov, n_symbols,
               CASE WHEN n_tokens > n_oov THEN
                   floor(CAST(n_symbols AS DOUBLE) / (n_tokens - n_oov) * 1e6)
                       / 1e6
               END AS avg_symbols_per_token,
               floor(CAST(n_oov AS DOUBLE) / n_tokens * 1e6) / 1e6 AS oov_share
        FROM agg
        ORDER BY source
    """


def _bpe_curve_oracle() -> str:
    n = BPE_ROUNDS
    st_ctes = ",\n        ".join(
        f"""st{r} AS (
            SELECT CAST(SUM(freq * len(string_split(repr[2:len(repr) - 1],
                                                    chr(1) || chr(1))))
                        AS BIGINT) AS sym_occ
            FROM v{r}
        )"""
        for r in range(1, n + 1)
    )
    merge_union = "\n            UNION ALL ".join(
        f"SELECT {r} AS round, x, y, cnt,"
        f" (SELECT sym_occ FROM st{r}) AS sym_occ FROM m{r}"
        for r in range(1, n + 1)
    )
    return f"""
        WITH {_bpe_chain_ctes()},
        {st_ctes},
        base AS (
            SELECT CAST(SUM(freq * len(tok)) AS BIGINT) AS char_occ,
                   CAST(SUM(freq) AS BIGINT) AS total_tokens
            FROM v0
        )
        SELECT m.round, m.x || m.y AS merged_sym, m.cnt AS pair_count,
               m.sym_occ,
               floor(CAST(m.sym_occ AS DOUBLE) / b.total_tokens * 1e6) / 1e6
                   AS avg_symbols_per_token,
               floor((1.0 - CAST(m.sym_occ AS DOUBLE) / b.char_occ) * 1e6)
                   / 1e6 AS saved_vs_chars
        FROM ({merge_union}) m CROSS JOIN base b
        ORDER BY m.round
    """


def _bpe_vocab_oracle() -> str:
    n = BPE_ROUNDS
    return f"""
        WITH {_bpe_chain_ctes()},
        syms AS (
            SELECT unnest(string_split(repr[2:len(repr) - 1],
                                       chr(1) || chr(1))) AS symbol,
                   freq
            FROM v{n}
        ),
        agg AS (
            SELECT symbol,
                   CAST(SUM(freq) AS BIGINT) AS occurrences,
                   CAST(COUNT(*) AS BIGINT) AS n_word_types
            FROM syms GROUP BY symbol
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC,
                                       symbol ASC) AS INT) AS token_id,
               symbol, occurrences, n_word_types,
               len(symbol) > 1 AS is_merged
        FROM agg
        ORDER BY token_id
    """


def text_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE DETOKENIZATION ROUND-TRIP — the tokenizer-bug tripwire
    every training pipeline runs before trusting its id stream: each
    trainable word is ENCODED to token ids through the frequency-
    ranked id table (`text_bpe_vocab`'s id space) and DECODED back
    (id → symbol → concatenation), documents are reassembled from
    the decoded pieces (char-level identity fallback for OOV
    tokens), and per-source fidelity is reported at two strictness
    levels:

    - ``fidelity_canonical``: decoded == the whitespace-normalized
      lowercased document — MUST be 1.0 (pytest-pinned): BPE merges
      only join adjacent symbols, so any canonical miss is a real
      artifact corruption (a bad merge replace, an id collision).
    - ``fidelity_exact``: decoded == the original bytes — fails
      exactly on the two documented lossy normalizations (case
      folding, whitespace collapse), counted per source;
      ``n_unexplained`` (exact failures NOT covered by either
      class) must be 0.

    Scale shape: the id round-trip runs at WORD grain (distinct
    trainable words ≪ corpus) through two broadcast joins against
    the ≤ ~38-row id table; document reassembly is one
    posexplode → broadcast piece lookup → doc-grain regroup (the
    shuffle is doc-grain, same as any per-doc rollup). Reference
    parity: staged per-row CASE validation before load
    (reference airflow/dags/reviews_ETL.py:93-198) — here the
    validation is byte-fidelity of the tokenize/detokenize pair.
    """
    vocab, _merges, _curve = _train_merges(spark, sf_dir)
    idmap = text_bpe_vocab(spark, sf_dir).select("symbol", "token_id")
    wsyms = vocab.select(
        "tok", F.posexplode(F.expr(_SYMS)).alias("pos", "sym")
    )
    dec = (
        wsyms.join(
            F.broadcast(idmap.withColumnRenamed("symbol", "sym")), "sym"
        )
        .join(
            F.broadcast(
                idmap.withColumnRenamed("token_id", "tid").withColumnRenamed(
                    "symbol", "dec_sym"
                )
            ),
            F.col("token_id") == F.col("tid"),
        )
        .groupBy("tok")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(pos, dec_sym))), s -> s.dec_sym), '')"
            ).alias("decoded")
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Token rows carry ONLY (doc_id, pos, tok) through the explode —
    # grouping on (doc_id, source, text) shipped the full document
    # string on every token row, making shuffle bytes
    # O(tokens · doc_length); the sf10 decade read α 1.45 for that
    # shape. The text joins back at doc grain for the comparisons.
    toks = docs.select(
        "doc_id",
        F.posexplode(_ws_tokens(F.lower(F.col("text")))).alias(
            "pos", "tok"
        ),
    )
    recon = docs.join(
        toks.join(F.broadcast(dec), "tok", "left")
        .withColumn("piece", F.coalesce("decoded", "tok"))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(pos, piece))), s -> s.piece), ' ')"
            ).alias("recon")
        ),
        "doc_id",
    )
    flags = recon.select(
        "source",
        (F.col("recon") == F.col("text")).alias("exact_ok"),
        (
            F.col("recon")
            == F.expr(r"array_join(split(trim(lower(text)), '\\s+'), ' ')")
        ).alias("canon_ok"),
        (F.col("text") != F.lower(F.col("text"))).alias("case_lossy"),
        (
            F.col("text")
            != F.expr(r"array_join(split(trim(text), '\\s+'), ' ')")
        ).alias("ws_lossy"),
    )
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast(  # noqa: E731
        "bigint"
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            cnt(F.col("exact_ok")).alias("n_exact"),
            cnt(F.col("canon_ok")).alias("n_canonical"),
            cnt(F.col("case_lossy")).alias("n_case_lossy"),
            cnt(F.col("ws_lossy")).alias("n_ws_lossy"),
            cnt(
                ~F.col("exact_ok")
                & ~F.col("case_lossy")
                & ~F.col("ws_lossy")
            ).alias("n_unexplained"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact",
            "n_canonical",
            "n_case_lossy",
            "n_ws_lossy",
            "n_unexplained",
            f6(
                F.col("n_exact").cast("double") / F.col("n_docs")
            ).alias("fidelity_exact"),
            f6(
                F.col("n_canonical").cast("double") / F.col("n_docs")
            ).alias("fidelity_canonical"),
        )
        .orderBy("source")
    )


def _bpe_roundtrip_oracle() -> str:
    n = BPE_ROUNDS
    return rf"""
        WITH {_bpe_chain_ctes()},
        vsyms AS (
            SELECT symbol,
                   CAST(SUM(freq) AS BIGINT) AS occurrences
            FROM (
                SELECT unnest(string_split(repr[2:len(repr) - 1],
                                           chr(1) || chr(1))) AS symbol,
                       freq
                FROM v{n}
            )
            GROUP BY symbol
        ),
        idmap AS MATERIALIZED (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC,
                                           symbol ASC) AS INT)
                       AS token_id,
                   symbol
            FROM vsyms
        ),
        wsyms AS (
            SELECT tok, generate_subscripts(s, 1) AS pos,
                   unnest(s) AS sym
            FROM (
                SELECT tok,
                       string_split(repr[2:len(repr) - 1],
                                    chr(1) || chr(1)) AS s
                FROM v{n}
            )
        ),
        dec AS MATERIALIZED (
            SELECT w.tok,
                   array_to_string(list(i2.symbol ORDER BY w.pos), '')
                       AS decoded
            FROM wsyms w
            JOIN idmap i1 ON w.sym = i1.symbol
            JOIN idmap i2 ON i1.token_id = i2.token_id
            GROUP BY w.tok
        ),
        toks AS (
            SELECT doc_id,
                   generate_subscripts(a, 1) AS pos, unnest(a) AS tok
            FROM (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS a
                FROM documents
            )
        ),
        rec0 AS MATERIALIZED (
            SELECT t.doc_id,
                   array_to_string(
                       list(COALESCE(d.decoded, t.tok) ORDER BY t.pos),
                       ' ') AS recon
            FROM toks t LEFT JOIN dec d ON t.tok = d.tok
            GROUP BY t.doc_id
        ),
        recon AS (
            SELECT doc.doc_id, doc.source, doc.text, r.recon
            FROM documents doc JOIN rec0 r ON doc.doc_id = r.doc_id
        ),
        flags AS (
            SELECT source,
                   recon = text AS exact_ok,
                   recon = array_to_string(
                       string_split_regex(trim(lower(text)), '\s+'),
                       ' ') AS canon_ok,
                   text <> lower(text) AS case_lossy,
                   text <> array_to_string(
                       string_split_regex(trim(text), '\s+'), ' ')
                       AS ws_lossy
            FROM recon
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN exact_ok THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN canon_ok THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_canonical,
               CAST(SUM(CASE WHEN case_lossy THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_case_lossy,
               CAST(SUM(CASE WHEN ws_lossy THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ws_lossy,
               CAST(SUM(CASE WHEN NOT exact_ok AND NOT case_lossy
                                  AND NOT ws_lossy
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unexplained,
               floor(CAST(SUM(CASE WHEN exact_ok THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*) * 1e6) / 1e6
                   AS fidelity_exact,
               floor(CAST(SUM(CASE WHEN canon_ok THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*) * 1e6) / 1e6
                   AS fidelity_canonical
        FROM flags
        GROUP BY source
        ORDER BY source
    """


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer FERTILITY — pieces per whitespace word
    under the trained BPE with the standard char-level fallback for
    OOV words (every word costs something at serving time, unlike
    ``text_bpe_encode``'s trainable-only average) — plus chars per
    piece, the compression readout. Fertility is THE cross-lingual
    tokenizer-budget metric (a source at fertility 2.4 pays 2.4x the
    sequence length of one at 1.0 for the same word count), so a
    data-mixture team reads this table next to the mixture weights.

    Scale shape: identical to ``text_bpe_encode`` — the trained
    word→piece-count table is broadcast onto the corpus token stream
    (distinct words ≪ corpus); one partial-aggregatable per-source
    rollup; merges never touch corpus-scale data. Round-12.
    """
    vocab, _merges, _curve = _train_merges(spark, sf_dir)
    word_cost = vocab.select(
        "tok", F.size(F.expr(_SYMS)).cast("bigint").alias("n_syms")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(_ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    joined = toks.join(F.broadcast(word_cost), "tok", "left")
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
            F.sum(F.coalesce(F.col("n_syms"), F.length("tok")))
            .cast("bigint")
            .alias("n_pieces"),
        )
        .select(
            "source",
            "n_words",
            "n_chars",
            "n_pieces",
            f6(
                F.col("n_pieces").cast("double") / F.col("n_words")
            ).alias("fertility"),
            f6(
                F.col("n_chars").cast("double") / F.col("n_pieces")
            ).alias("chars_per_piece"),
        )
        .orderBy("source")
    )


def text_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(tokenizer, lang) FERTILITY (round-13, VERDICT r12 task 6)
    — the grain a data-mixture team actually tunes on: the corpus-
    global fertility of ``text_tokenizer_fertility`` hides that a
    lang at fertility 2.4 pays 2.4x the sequence budget of one at
    1.1 for the same word count. Two tokenizer rows per lang make
    the readout comparative: ``bpe`` (the trained merges with the
    standard char-level OOV fallback) against the ``char`` baseline
    (every word costs its length), so ``fertility(bpe) /
    fertility(char)`` IS the per-lang compression the merges buy.
    ``piece_share`` is each lang's share of that tokenizer's total
    piece budget — read it next to the mixture weights.

    Scale shape: identical to the corpus-global op — broadcast
    word→piece-cost join onto the token stream, one partial-
    aggregatable per-lang rollup; the share window runs over the
    post-aggregation frame (#langs rows), never corpus-scale data.
    Reference parity: staged multi-CTE SQL over row streams
    (reference airflow/dags/orders_ETL.py:93-125) — here the grain
    pivot is a `stack` over one aggregate, not a rescan.
    """
    vocab, _merges, _curve = _train_merges(spark, sf_dir)
    word_cost = vocab.select(
        "tok", F.size(F.expr(_SYMS)).cast("bigint").alias("n_syms")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(_ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    per_lang = (
        toks.join(F.broadcast(word_cost), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
            F.sum(F.coalesce(F.col("n_syms"), F.length("tok")))
            .cast("bigint")
            .alias("n_bpe"),
        )
    )
    both = per_lang.select(
        F.expr(
            "stack(2, 'bpe', n_bpe, 'char', n_chars)"
            " AS (tokenizer, n_pieces)"
        ),
        "lang",
        "n_words",
        "n_chars",
    )
    w = Window.partitionBy("tokenizer")
    f6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return both.select(
        "tokenizer",
        "lang",
        "n_words",
        "n_pieces",
        f6(F.col("n_pieces").cast("double") / F.col("n_words")).alias(
            "fertility"
        ),
        f6(F.col("n_chars").cast("double") / F.col("n_pieces")).alias(
            "chars_per_piece"
        ),
        f6(
            F.col("n_pieces").cast("double") / F.sum("n_pieces").over(w)
        ).alias("piece_share"),
    ).orderBy("tokenizer", "lang")


def _fertility_by_lang_oracle() -> str:
    n = BPE_ROUNDS
    return rf"""
        WITH {_bpe_chain_ctes()},
        word_cost AS (
            SELECT tok,
                   CAST(len(string_split(repr[2:len(repr) - 1],
                                         chr(1) || chr(1))) AS BIGINT) AS n_syms
            FROM v{n}
        ),
        toks AS (
            SELECT lang,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents
        ),
        per_lang AS (
            SELECT t.lang,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(len(t.tok)) AS BIGINT) AS n_chars,
                   CAST(SUM(COALESCE(w.n_syms, len(t.tok)))
                        AS BIGINT) AS n_bpe
            FROM toks t LEFT JOIN word_cost w ON t.tok = w.tok
            GROUP BY t.lang
        ),
        grains AS (
            SELECT 'bpe' AS tokenizer, lang, n_words, n_chars,
                   n_bpe AS n_pieces
            FROM per_lang
            UNION ALL
            SELECT 'char', lang, n_words, n_chars, n_chars
            FROM per_lang
        )
        SELECT tokenizer, lang, n_words, n_pieces,
               floor(CAST(n_pieces AS DOUBLE) / n_words * 1e6) / 1e6
                   AS fertility,
               floor(CAST(n_chars AS DOUBLE) / n_pieces * 1e6) / 1e6
                   AS chars_per_piece,
               floor(CAST(n_pieces AS DOUBLE)
                     / SUM(n_pieces) OVER (PARTITION BY tokenizer)
                     * 1e6) / 1e6 AS piece_share
        FROM grains
        ORDER BY tokenizer, lang
    """


def _fertility_oracle() -> str:
    n = BPE_ROUNDS
    return rf"""
        WITH {_bpe_chain_ctes()},
        word_cost AS (
            SELECT tok,
                   CAST(len(string_split(repr[2:len(repr) - 1],
                                         chr(1) || chr(1))) AS BIGINT) AS n_syms
            FROM v{n}
        ),
        toks AS (
            SELECT source,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents
        ),
        agg AS (
            SELECT t.source,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(len(t.tok)) AS BIGINT) AS n_chars,
                   CAST(SUM(COALESCE(w.n_syms, len(t.tok)))
                        AS BIGINT) AS n_pieces
            FROM toks t LEFT JOIN word_cost w ON t.tok = w.tok
            GROUP BY t.source
        )
        SELECT source, n_words, n_chars, n_pieces,
               floor(CAST(n_pieces AS DOUBLE) / n_words * 1e6) / 1e6
                   AS fertility,
               floor(CAST(n_chars AS DOUBLE) / n_pieces * 1e6) / 1e6
                   AS chars_per_piece
        FROM agg
        ORDER BY source
    """


QUERIES = {
    "text_bpe_train": text_bpe_train,
    "text_bpe_encode": text_bpe_encode,
    "text_bpe_compression_curve": text_bpe_compression_curve,
    "text_bpe_vocab": text_bpe_vocab,
    "text_bpe_roundtrip": text_bpe_roundtrip,
    "text_tokenizer_fertility": text_tokenizer_fertility,
    "text_fertility_by_lang": text_fertility_by_lang,
}

ORACLES = {
    "text_bpe_train": _bpe_train_oracle(),
    "text_bpe_encode": _bpe_encode_oracle(),
    "text_bpe_compression_curve": _bpe_curve_oracle(),
    "text_bpe_vocab": _bpe_vocab_oracle(),
    "text_bpe_roundtrip": _bpe_roundtrip_oracle(),
    "text_tokenizer_fertility": _fertility_oracle(),
    "text_fertility_by_lang": _fertility_by_lang_oracle(),
}
