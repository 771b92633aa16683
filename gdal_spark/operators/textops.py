"""Text analysis for large-scale training-data pipelines.

Operators over the ``documents`` table (doc_id, text, lang, source,
n_chars): token counting, quality scoring, language-ID heuristic, and
document fingerprinting (rolling polynomial hash). These extend the
reference's scalar-function surface (OGR SQL string ops,
ogr/swq_op_registrar.cpp:44-75 — CONCAT/SUBSTR/LIKE) to the
text-pipeline operations a 100 TB corpus needs.

Scale posture: every operator here is a pure Catalyst expression
(higher-order array functions over ``split`` output) — whole-stage
codegen, zero Python, zero shuffle for the per-document ops; the
corpus-level aggregations are a single map-side-combined groupBy.

Each fragment is emitted for BOTH the Spark and DuckDB dialects so the
driver's oracle runs the semantically identical query; differences are
only function names (size/len, transform/list_transform, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# rolling-hash modulus: largest prime < 1e12 — keeps acc*31+code well
# inside int64 in both engines (no overflow, no bigint promotion)
HASH_P = 999_999_999_989

# tiny per-language stopword lists for the language-ID heuristic
# (n-gram/stopword-hit scoring; predicts argmax, ties broken by the
# fixed language order below)
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ein"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "las", "una"),
    "zh": ("的", "了", "是", "在", "我"),
}
LANG_ORDER = ("en", "de", "fr", "es", "zh")


# ---------------------------------------------------------------------------
# dialect-shared SQL fragments


def tokens_sql(dialect: str, col: str = "text") -> str:
    """Whitespace tokens with empties dropped (split on single space —
    the corpus is single-space delimited; '' entries from runs are
    filtered)."""
    if dialect == "spark":
        return f"filter(split({col}, ' '), t -> t <> '')"
    return f"list_filter(string_split({col}, ' '), t -> t <> '')"


def _size(dialect: str, e: str) -> str:
    return f"size({e})" if dialect == "spark" else f"len({e})"


def _distinct(dialect: str, e: str) -> str:
    return f"array_distinct({e})" if dialect == "spark" else f"list_distinct({e})"


def _transform(dialect: str, e: str, lam: str) -> str:
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({e}, {lam})"


def _filter(dialect: str, e: str, lam: str) -> str:
    fn = "filter" if dialect == "spark" else "list_filter"
    return f"{fn}({e}, {lam})"


def char_codes_sql(dialect: str, s: str) -> str:
    """Unicode code points of each character of string expression
    ``s`` (ascii() returns the code point in both engines)."""
    if dialect == "spark":
        return f"transform(split({s}, ''), c -> cast(ascii(c) as bigint))"
    return f"list_transform(string_split({s}, ''), c -> cast(ascii(c) as bigint))"


def fold_hash_sql(dialect: str, codes: str) -> str:
    """Polynomial rolling hash: acc = (acc*31 + code) % P, acc0 = 7.
    Deterministic, order-dependent — the document fingerprint."""
    if dialect == "spark":
        return f"aggregate({codes}, cast(7 as bigint), (acc, x) -> (acc * 31 + x) % {HASH_P})"
    return (
        f"list_reduce(list_prepend(cast(7 as bigint), {codes}), "
        f"(acc, x) -> (acc * 31 + x) % {HASH_P})"
    )


def str_hash_sql(dialect: str, s: str) -> str:
    """Rolling hash of a string expression."""
    return fold_hash_sql(dialect, char_codes_sql(dialect, s))


def token_hashes_sql(dialect: str, toks: str) -> str:
    """Per-token rolling hashes (nested higher-order lambda)."""
    return _transform(dialect, toks, f"t -> {str_hash_sql(dialect, 't')}")


def _in_list(vals: tuple[str, ...]) -> str:
    return ", ".join(f"'{v}'" for v in vals)


def stop_hits_sql(dialect: str, toks: str, words: tuple[str, ...]) -> str:
    return _size(dialect, _filter(dialect, toks, f"t -> t IN ({_in_list(words)})"))


def profile_select_sql(dialect: str) -> list[str]:
    """SELECT-list fragments for text_profile; expects a ``toks``
    column in scope."""
    d = dialect
    n_tok = _size(d, "toks")
    n_typ = _size(d, _distinct(d, "toks"))
    tot_len = (
        f"aggregate({_transform(d, 'toks', 't -> cast(length(t) as bigint)')}, "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
        if d == "spark"
        else f"cast(list_sum({_transform(d, 'toks', 't -> cast(length(t) as bigint)')}) as bigint)"
    )
    max_len = (
        f"array_max({_transform(d, 'toks', 't -> length(t)')})"
        if d == "spark"
        else f"list_max({_transform(d, 'toks', 't -> length(t)')})"
    )
    fp = str_hash_sql(d, "text")
    min_th = (
        f"array_min({token_hashes_sql(d, 'toks')})"
        if d == "spark"
        else f"list_min({token_hashes_sql(d, 'toks')})"
    )
    return [
        f"cast({n_tok} as bigint) AS n_tokens",
        f"cast({n_typ} as bigint) AS n_types",
        f"{tot_len} AS total_token_len",
        f"cast({max_len} as bigint) AS max_token_len",
        f"{fp} AS text_fp",
        f"{min_th} AS min_token_hash",
    ]


def quality_select_sql(dialect: str) -> list[str]:
    """Quality-score fragments: stopword ratio, type-token ratio, and a
    combined [0,1000] score. All ratios are integer-scaled via floor so
    both engines hash-match bit-for-bit; the double intermediates are
    single correctly-rounded IEEE ops (identical cross-engine)."""
    d = dialect
    n_tok = f"cast({_size(d, 'toks')} as bigint)"
    n_typ = f"cast({_size(d, _distinct(d, 'toks'))} as bigint)"
    stop = stop_hits_sql(d, "toks", LANG_STOPWORDS["en"])
    ttr = f"(cast({n_typ} as double) / cast({n_tok} as double))"
    stop_r = f"(cast({stop} as double) / cast({n_tok} as double))"
    len_term = f"least(1.0E0, cast({n_tok} as double) / 64.0E0)"
    score = f"(400.0E0 * {len_term} + 400.0E0 * {ttr} + 200.0E0 * {stop_r})"
    return [
        f"{n_tok} AS n_tokens",
        f"cast({stop} as bigint) AS stop_hits",
        f"cast(floor(1000000.0E0 * {ttr}) as bigint) AS ttr_key",
        f"cast(floor(1000000.0E0 * {stop_r}) as bigint) AS stop_ratio_key",
        f"cast(floor({score}) as bigint) AS quality_key",
    ]


def lang_scores_sql(dialect: str) -> list[str]:
    return [
        f"cast({stop_hits_sql(dialect, 'toks', LANG_STOPWORDS[lg])} as bigint) "
        f"AS score_{lg}"
        for lg in LANG_ORDER
    ]


def lang_pred_sql() -> str:
    """argmax over score columns, ties to the earlier language in
    LANG_ORDER (dialect-neutral CASE chain)."""
    best = f"greatest({', '.join('score_' + lg for lg in LANG_ORDER)})"
    cases = " ".join(
        f"WHEN score_{lg} = best THEN '{lg}'" for lg in LANG_ORDER
    )
    return f"(CASE {cases} END)", best, cases


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style repetitious-text rules, Rae et al.
# 2021 "Scaling Language Models" appendix A: a document dominated by
# one n-gram is boilerplate/spam). The corpus is single-line, so the
# line-duplication rules degenerate and the n-gram family carries the
# signal: fraction of tokens in the modal unigram / modal bigram,
# integer ppm so both engines agree bit-for-bit. Thresholds follow the
# paper (top 2-gram > 0.20 of characters -> flag; we count tokens).

TOP_UNIGRAM_PPM = 200_000  # modal token > 20% of tokens
TOP_BIGRAM_PPM = 180_000  # modal bigram > 18% of bigram slots


def bigrams_sql(dialect: str, toks: str = "toks") -> str:
    """Adjacent-token bigram list ('tok_k tok_k+1').

    Spark shape: slice + zip_with, NOT transform-over-sequence with
    element_at — Catalyst inlines the ``toks`` projection into the
    consumer and common-subexpression elimination does not reach
    inside lambda bodies, so each element_at re-evaluates the whole
    filter(split(text)) chain: O(n_tokens^2) splits per document
    (measured: 6.8 s of the 8.4 s sf0.1 repetition_profile was the
    bigram explode alone). slice evaluates the array argument once
    per row."""
    if dialect == "spark":
        # guard: size<2 would hand slice a negative length
        return (
            f"(CASE WHEN size({toks}) < 2 THEN array() "
            f"ELSE zip_with(slice({toks}, 1, size({toks}) - 1), "
            f"slice({toks}, 2, size({toks}) - 1), "
            f"(a, b) -> concat(a, ' ', b)) END)"
        )
    return (
        f"list_transform(range(1, len({toks})), "
        f"k -> {toks}[k] || ' ' || {toks}[k + 1])"
    )


# ---------------------------------------------------------------------------
# DataFrame operators (Spark side)


def _with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn("toks", F.expr(tokens_sql("spark")))


def text_profile(docs: DataFrame) -> DataFrame:
    """Per-document token counts + rolling-hash fingerprint — pure
    Catalyst expressions (whole-stage codegen, no UDF, no shuffle)."""
    return _with_tokens(docs).selectExpr("doc_id", *profile_select_sql("spark"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Per-document quality features + combined score."""
    return _with_tokens(docs).selectExpr("doc_id", *quality_select_sql("spark"))


def _modal_gram(grams: DataFrame, prefix: str) -> DataFrame:
    """Per-doc modal gram (highest count, ties to the lexicographically
    smallest gram): map-side-combined groupBy then a per-doc top-1
    window — both shuffle on doc_id only, skew-free at corpus scale."""
    counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("n"))
    # user-numbered repartition ahead of the per-doc window: AQE
    # coalesces the small-byte-size gram counts to ONE partition and
    # the window then sorts every (doc, gram) row in a single task
    # (measured 6-8 s of the 8.4 s sf0.1 repetition_profile; the same
    # trap as the r3 overlay fix — AQE cannot coalesce an explicit
    # user repartition, and the window reuses this exchange)
    counts = counts.repartition(
        counts.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("g"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select(
            "doc_id",
            F.col("g").alias(f"top_{prefix}"),
            F.col("n").cast("bigint").alias(f"top_{prefix}_n"),
        )
    )


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: modal unigram /
    modal bigram counts and ppm fractions + the removal flag. All
    integer outputs (ppm via integer division), bit-exact cross-engine.
    Docs too short for bigrams report ('', 0, 0)."""
    t = _with_tokens(docs).withColumn("bgs", F.expr(bigrams_sql("spark")))
    base = t.selectExpr(
        "doc_id",
        "cast(size(toks) as bigint) AS n_tokens",
        "cast(size(bgs) as bigint) AS n_bigrams",
    )
    uni = _modal_gram(
        t.select("doc_id", F.explode("toks").alias("g")), "token"
    )
    bi = _modal_gram(
        t.select("doc_id", F.explode("bgs").alias("g")), "bigram"
    )
    out = (
        base.join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .selectExpr(
            "doc_id", "n_tokens", "n_bigrams",
            "coalesce(top_token, '') AS top_token",
            "coalesce(top_token_n, 0) AS top_token_n",
            "coalesce(top_bigram, '') AS top_bigram",
            "coalesce(top_bigram_n, 0) AS top_bigram_n",
        )
        .selectExpr(
            "*",
            "CASE WHEN n_tokens > 0 THEN (1000000 * top_token_n) div n_tokens "
            "ELSE 0 END AS top_token_ppm",
            "CASE WHEN n_bigrams > 0 THEN (1000000 * top_bigram_n) div n_bigrams "
            "ELSE 0 END AS top_bigram_ppm",
        )
    )
    return out.selectExpr(
        "*",
        f"cast(top_token_ppm > {TOP_UNIGRAM_PPM} "
        f"OR top_bigram_ppm > {TOP_BIGRAM_PPM} as int) AS gopher_flag",
    )


def oracle_repetition_profile() -> str:
    return (
        f"WITH t AS (SELECT doc_id, {tokens_sql('duckdb')} AS toks "
        f"FROM documents), "
        f"tb AS (SELECT doc_id, toks, {bigrams_sql('duckdb')} AS bgs FROM t), "
        f"base AS (SELECT doc_id, cast(len(toks) as bigint) AS n_tokens, "
        f"cast(len(bgs) as bigint) AS n_bigrams FROM tb), "
        f"uni AS (SELECT doc_id, g, count(*) AS n, "
        f"row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) "
        f"AS rk FROM (SELECT doc_id, unnest(toks) AS g FROM tb) GROUP BY 1, 2), "
        f"bi AS (SELECT doc_id, g, count(*) AS n, "
        f"row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) "
        f"AS rk FROM (SELECT doc_id, unnest(bgs) AS g FROM tb) GROUP BY 1, 2), "
        f"j AS (SELECT base.doc_id, n_tokens, n_bigrams, "
        f"coalesce(uni.g, '') AS top_token, "
        f"cast(coalesce(uni.n, 0) as bigint) AS top_token_n, "
        f"coalesce(bi.g, '') AS top_bigram, "
        f"cast(coalesce(bi.n, 0) as bigint) AS top_bigram_n "
        f"FROM base LEFT JOIN (SELECT * FROM uni WHERE rk = 1) uni "
        f"ON base.doc_id = uni.doc_id "
        f"LEFT JOIN (SELECT * FROM bi WHERE rk = 1) bi "
        f"ON base.doc_id = bi.doc_id), "
        f"p AS (SELECT *, "
        f"CASE WHEN n_tokens > 0 THEN (1000000 * top_token_n) // n_tokens "
        f"ELSE 0 END AS top_token_ppm, "
        f"CASE WHEN n_bigrams > 0 THEN (1000000 * top_bigram_n) // n_bigrams "
        f"ELSE 0 END AS top_bigram_ppm FROM j) "
        f"SELECT doc_id, n_tokens, n_bigrams, top_token, top_token_n, "
        f"top_bigram, top_bigram_n, top_token_ppm, top_bigram_ppm, "
        f"cast(top_token_ppm > {TOP_UNIGRAM_PPM} "
        f"OR top_bigram_ppm > {TOP_BIGRAM_PPM} as int) AS gopher_flag FROM p"
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language-ID heuristic: per-language scores + argmax
    prediction (ties resolved by LANG_ORDER)."""
    scored = _with_tokens(docs).selectExpr(
        "doc_id", "lang", *lang_scores_sql("spark")
    )
    pred, best, _ = lang_pred_sql()
    return scored.withColumn("best", F.expr(best)).selectExpr(
        "doc_id",
        "lang",
        *(f"score_{lg}" for lg in LANG_ORDER),
        f"{pred} AS pred_lang",
    )


def token_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-level token frequencies, top-k by document frequency —
    explode + map-side-combined groupBy (the classic word count)."""
    toks = _with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_total"),
        )
        .orderBy(F.desc("n_total"), "token")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# oracle SQL builders (DuckDB dialect; `documents` is a pre-registered view)


def oracle_text_profile() -> str:
    return (
        f"WITH t AS (SELECT doc_id, text, {tokens_sql('duckdb')} AS toks "
        f"FROM documents) "
        f"SELECT doc_id, {', '.join(profile_select_sql('duckdb'))} FROM t"
    )


def oracle_quality_score() -> str:
    return (
        f"WITH t AS (SELECT doc_id, {tokens_sql('duckdb')} AS toks "
        f"FROM documents) "
        f"SELECT doc_id, {', '.join(quality_select_sql('duckdb'))} FROM t"
    )


def oracle_lang_id() -> str:
    scores = ", ".join(lang_scores_sql("duckdb"))
    pred, best, _ = lang_pred_sql()
    return (
        f"WITH t AS (SELECT doc_id, lang, {tokens_sql('duckdb')} AS toks "
        f"FROM documents), "
        f"s AS (SELECT doc_id, lang, {scores} FROM t), "
        f"b AS (SELECT *, {best} AS best FROM s) "
        f"SELECT doc_id, lang, "
        + ", ".join(f"score_{lg}" for lg in LANG_ORDER)
        + f", {pred} AS pred_lang FROM b"
    )


def oracle_token_topk(k: int = 50) -> str:
    return (
        f"WITH t AS (SELECT doc_id, unnest({tokens_sql('duckdb')}) AS token "
        f"FROM documents) "
        f"SELECT token, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total "
        f"FROM t GROUP BY token ORDER BY n_total DESC, token LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# unigram-LM perplexity filter (CCNet, Wenzek et al. 2020: language-
# model perplexity scoring + head/middle/tail bucketing — here the LM
# is the corpus's own unigram model, so the operator is self-contained:
# no external model artifact)

PPL_SCALE = 10_000  # fixed-point: 1e-4 nats per unit
PPL_HEAD = 34_000   # avg NLL below -> 'head' (best) bucket
PPL_TAIL = 35_200   # avg NLL above -> 'tail' (worst) bucket


def unigram_perplexity(docs: DataFrame) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus
    unigram model, in fixed-point 1e-4 nats:
    ``nll_u(tok) = floor(1e4 * ln(T / count(tok)))`` quantized PER
    DISTINCT TOKEN (before any summation — summation order then cannot
    matter), ``nll_avg_u = sum(nll_u) div n_tokens``, plus the CCNet
    head/middle/tail bucket.

    Scale: vocab aggregation is one map-side-combined shuffle; the
    corpus total rides a 1-row broadcast cross join (never a window
    over an unpartitioned frame); the token->nll join broadcasts the
    vocab when small and degrades to a shuffle hash join at real vocab
    sizes — both shapes are linear."""
    toks = _with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("token")
    )
    toks = toks.localCheckpoint(eager=True)  # feeds vocab AND scoring
    vocab = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("T"))
    nll = vocab.crossJoin(F.broadcast(total)).selectExpr(
        "token",
        f"cast(floor({PPL_SCALE}.0E0 * ln(cast(T as double) "
        f"/ cast(c as double))) as bigint) AS nll_u",
    )
    d = toks.join(nll, "token").groupBy("doc_id").agg(
        F.sum("nll_u").cast("bigint").alias("nll_sum_u"),
        F.count("*").cast("bigint").alias("n_tokens"),
    )
    return d.selectExpr(
        "doc_id", "n_tokens", "nll_sum_u",
        "nll_sum_u div n_tokens AS nll_avg_u",
    ).selectExpr(
        "*",
        f"CASE WHEN nll_avg_u < {PPL_HEAD} THEN 'head' "
        f"WHEN nll_avg_u > {PPL_TAIL} THEN 'tail' "
        f"ELSE 'middle' END AS ppl_bucket",
    )


def oracle_unigram_perplexity() -> str:
    return (
        f"WITH t AS (SELECT doc_id, unnest({tokens_sql('duckdb')}) AS token "
        f"FROM documents), "
        f"v AS MATERIALIZED (SELECT token, count(*) AS c FROM t GROUP BY token), "
        f"tot AS (SELECT sum(c) AS T FROM v), "
        f"nll AS (SELECT token, cast(floor({PPL_SCALE}.0E0 * "
        f"ln(cast(T as double) / cast(c as double))) as bigint) AS nll_u "
        f"FROM v, tot), "
        f"d AS (SELECT doc_id, cast(sum(nll_u) as bigint) AS nll_sum_u, "
        f"cast(count(*) as bigint) AS n_tokens "
        f"FROM t JOIN nll USING (token) GROUP BY doc_id) "
        f"SELECT doc_id, n_tokens, nll_sum_u, "
        f"nll_sum_u // n_tokens AS nll_avg_u, "
        f"CASE WHEN nll_sum_u // n_tokens < {PPL_HEAD} THEN 'head' "
        f"WHEN nll_sum_u // n_tokens > {PPL_TAIL} THEN 'tail' "
        f"ELSE 'middle' END AS ppl_bucket FROM d"
    )


# ---------------------------------------------------------------------------
# deterministic source mixing (the Pile / Dolma-style corpus mixture:
# each source gets a sampling rate; membership is a pure hash of the
# document key, so the sample is reproducible across runs, engines and
# partitionings — never rand())

MIX_MOD = 1_000_000
KNUTH = 2_654_435_761  # Knuth multiplicative hash constant


def _mix_rate_sql() -> str:
    """Per-source keep rate in ppm from the source index (dialect-
    neutral): 0-4 keep all, 5-9 half, 10-14 quarter, 15+ 10%."""
    return (
        "(CASE WHEN src_idx < 5 THEN 1000000 "
        "WHEN src_idx < 10 THEN 500000 "
        "WHEN src_idx < 15 THEN 250000 ELSE 100000 END)"
    )


def source_mix_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, source, rate_ppm, h, keep) — keep iff
    hash(doc_id) mod 1e6 < rate_ppm, hash = Knuth multiplicative mod
    2^32. Pure integer Catalyst scan: zero shuffle, zero Python; the
    mixture is exact in expectation and deterministic in membership."""
    return docs.selectExpr(
        "doc_id", "source",
        "cast(substring(source, 4) as int) AS src_idx",
        f"(doc_id * {KNUTH}) % 4294967296 AS h",
    ).selectExpr(
        "doc_id", "source",
        f"cast({_mix_rate_sql()} as bigint) AS rate_ppm",
        "h",
        f"cast((h % {MIX_MOD}) < {_mix_rate_sql()} as int) AS keep",
    )


def oracle_source_mix_sample() -> str:
    return (
        f"WITH t AS (SELECT doc_id, source, "
        f"cast(substr(source, 4) as int) AS src_idx, "
        f"(doc_id * {KNUTH}) % 4294967296 AS h FROM documents) "
        f"SELECT doc_id, source, cast({_mix_rate_sql()} as bigint) AS rate_ppm, "
        f"cast(h as bigint) AS h, "
        f"cast((h % {MIX_MOD}) < {_mix_rate_sql()} as int) AS keep FROM t"
    )


# ---------------------------------------------------------------------------
# sequence packing (GPT-style concat-and-chunk: documents are
# concatenated in key order within a shard and split at fixed
# max-sequence-length boundaries; each document reports which packed
# sequences it lands in and at what offset. Reference practice:
# Brown et al. 2020 §2.3 "documents are packed into sequences of
# 2048 tokens"; here L is a parameter. Packing is inherently a
# prefix-sum per stream, so it is done PER SOURCE (the shard unit a
# real pipeline packs within) — the window never spans the corpus.)

PACK_LEN = 64  # max sequence length in tokens


def pack_sequences(docs: DataFrame, max_len: int = PACK_LEN) -> DataFrame:
    """(source, doc_id, pack_id, start_in_pack, n_tok_here) — one row
    per (document, packed-sequence) span.

    Scale: one shuffle on ``source`` (the shard key) for the running
    token prefix sum; the span explode is map-side. Sources are the
    packing shards, so window width is bounded by shard size, never
    corpus size."""
    t = _with_tokens(docs).selectExpr(
        "source", "doc_id", "cast(size(toks) as bigint) AS n_tok"
    ).filter("n_tok > 0")
    w = Window.partitionBy("source").orderBy("doc_id")
    t = t.withColumn("cum", F.sum("n_tok").over(w))
    t = t.selectExpr(
        "source", "doc_id", "n_tok", "cum", "cum - n_tok AS start",
        f"(cum - n_tok) div {max_len} AS pack_first",
        f"(cum - 1) div {max_len} AS pack_last",
    )
    return t.select(
        "source", "doc_id", "n_tok", "start",
        F.explode(F.expr("sequence(pack_first, pack_last)")).alias("pack_id"),
    ).selectExpr(
        "source", "doc_id", "pack_id",
        f"greatest(start, pack_id * {max_len}) - pack_id * {max_len} "
        f"AS start_in_pack",
        f"least(start + n_tok, (pack_id + 1) * {max_len}) "
        f"- greatest(start, pack_id * {max_len}) AS n_tok_here",
    )


def oracle_pack_sequences(max_len: int = PACK_LEN) -> str:
    return (
        f"WITH t AS (SELECT source, doc_id, "
        f"cast(len({tokens_sql('duckdb')}) as bigint) AS n_tok "
        f"FROM documents), "
        f"c AS (SELECT source, doc_id, n_tok, "
        f"cast(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) "
        f"as bigint) AS cum "
        f"FROM t WHERE n_tok > 0), "
        f"s AS (SELECT source, doc_id, n_tok, cum, cum - n_tok AS start, "
        f"(cum - n_tok) // {max_len} AS pack_first, "
        f"(cum - 1) // {max_len} AS pack_last FROM c) "
        f"SELECT source, doc_id, "
        f"cast(unnest(range(pack_first, pack_last + 1)) as bigint) AS pack_id, "
        f"cast(greatest(start, unnest(range(pack_first, pack_last + 1)) "
        f"* {max_len}) - unnest(range(pack_first, pack_last + 1)) "
        f"* {max_len} as bigint) AS start_in_pack, "
        f"cast(least(start + n_tok, (unnest(range(pack_first, pack_last + 1)) "
        f"+ 1) * {max_len}) - greatest(start, "
        f"unnest(range(pack_first, pack_last + 1)) * {max_len}) as bigint) "
        f"AS n_tok_here FROM s"
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (top-k terms per document). The idf is
# kept in exact integer arithmetic — score_key = (tf * 1e6 * N) // df
# is monotone in tf * N/df — so the ranking needs no float log and is
# bit-identical across engines. Ties break lexicographically.

TFIDF_K = 3
TFIDF_SCALE = 1_000_000


def tfidf_topk(docs: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """(doc_id, token, tf, df, score_key, rnk) — top-k tokens per
    document by tf * N/df (exact integer surrogate).

    Scale: tf agg shuffles on (doc_id, token); df agg shuffles on
    token with map-side combine; N rides a 1-row broadcast; the
    df-lookup join broadcasts while the vocab is small and degrades to
    a shuffle hash join at real vocab sizes; final top-k is a window
    over doc_id (bounded per-doc width)."""
    toks = _with_tokens(docs).select(
        "doc_id", F.explode("toks").alias("token")
    )
    toks = toks.localCheckpoint(eager=True)  # feeds tf AND df
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df = toks.groupBy("token").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    n = toks.select("doc_id").distinct().agg(
        F.count("*").cast("bigint").alias("N")
    )
    scored = tf.join(df, "token").crossJoin(F.broadcast(n)).selectExpr(
        "doc_id", "token", "tf", "df",
        f"(tf * {TFIDF_SCALE} * N) div df AS score_key",
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_key"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def oracle_tfidf_topk(k: int = TFIDF_K) -> str:
    return (
        f"WITH t AS (SELECT doc_id, unnest({tokens_sql('duckdb')}) AS token "
        f"FROM documents), "
        f"tf AS MATERIALIZED (SELECT doc_id, token, "
        f"cast(count(*) as bigint) AS tf FROM t GROUP BY 1, 2), "
        f"df AS (SELECT token, cast(count(DISTINCT doc_id) as bigint) AS df "
        f"FROM t GROUP BY 1), "
        f"n AS (SELECT cast(count(DISTINCT doc_id) as bigint) AS N FROM t), "
        f"s AS (SELECT doc_id, token, tf, df, "
        f"(tf * {TFIDF_SCALE} * N) // df AS score_key "
        f"FROM tf JOIN df USING (token), n), "
        f"r AS (SELECT *, cast(row_number() OVER (PARTITION BY doc_id "
        f"ORDER BY score_key DESC, token) as bigint) AS rnk FROM s) "
        f"SELECT doc_id, token, tf, df, score_key, rnk FROM r "
        f"WHERE rnk <= {k}"
    )


# ---------------------------------------------------------------------------
# deterministic stratified dataset split (train/val/test by a pure
# hash of the document key — reproducible across runs, engines and
# partitionings, and orthogonal to the source-mixing hash above by a
# different multiplier)

SPLIT_KNUTH = 2_246_822_519  # xxhash PRIME32_2 — independent of KNUTH


def dataset_split(docs: DataFrame) -> DataFrame:
    """(doc_id, source, h, split) — 80/10/10 by hash bucket; pure
    integer Catalyst scan, zero shuffle, zero Python."""
    return docs.selectExpr(
        "doc_id", "source",
        f"(doc_id * {SPLIT_KNUTH}) % 4294967296 AS h",
    ).selectExpr(
        "doc_id", "source", "h",
        "CASE WHEN h % 100 < 80 THEN 'train' "
        "WHEN h % 100 < 90 THEN 'val' ELSE 'test' END AS split",
    )


def oracle_dataset_split() -> str:
    return (
        f"WITH t AS (SELECT doc_id, source, "
        f"(doc_id * {SPLIT_KNUTH}) % 4294967296 AS h FROM documents) "
        f"SELECT doc_id, source, cast(h as bigint) AS h, "
        f"CASE WHEN h % 100 < 80 THEN 'train' "
        f"WHEN h % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM t"
    )


# ---------------------------------------------------------------------------
# deterministic epoch shuffle + shard assignment (the training-loader
# contract: every epoch visits the whole corpus in a different
# pseudorandom order, split into shards a loader can stream). Shard =
# hash bucket (balanced in expectation), intra-shard order = sort by
# the per-epoch hash key. Scale shape: ONE shuffle on (epoch, shard)
# + a per-shard sort — task granularity is the shard (thousands at
# 100 TB), never a global single-task window; this is exactly the
# webdataset sharding layout.

SHUFFLE_MULT = 2654435761
SHUFFLE_EPOCH_MIX = 1000003
SHUFFLE_EPOCHS = 2
SHUFFLE_SHARDS = 8


def epoch_shuffle(
    docs: DataFrame,
    epochs: int = SHUFFLE_EPOCHS,
    n_shards: int = SHUFFLE_SHARDS,
) -> DataFrame:
    """(epoch, shard, pos, doc_id, key) — deterministic shuffle order
    per epoch; pos is the 0-based stream position within the shard."""
    keyed = docs.selectExpr(
        "doc_id",
        f"explode(sequence(0, {epochs - 1})) AS epoch",
    ).selectExpr(
        "doc_id", "epoch",
        f"((doc_id + epoch * {SHUFFLE_EPOCH_MIX}) * {SHUFFLE_MULT}) "
        f"% 4294967296 AS key",
    ).selectExpr(
        "doc_id", "epoch", "key", f"key % {n_shards} AS shard"
    )
    w = Window.partitionBy("epoch", "shard").orderBy("key", "doc_id")
    return keyed.select(
        F.col("epoch").cast("bigint").alias("epoch"),
        F.col("shard").cast("bigint").alias("shard"),
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
        "doc_id",
        F.col("key").cast("bigint").alias("key"),
    )


def oracle_epoch_shuffle(
    epochs: int = SHUFFLE_EPOCHS, n_shards: int = SHUFFLE_SHARDS
) -> str:
    return (
        f"WITH e AS (SELECT doc_id, unnest(range(0, {epochs})) AS epoch "
        f"FROM documents), "
        f"k AS (SELECT doc_id, epoch, "
        f"((doc_id + epoch * {SHUFFLE_EPOCH_MIX}) * {SHUFFLE_MULT}) "
        f"% 4294967296 AS key FROM e), "
        f"s AS (SELECT doc_id, epoch, key, key % {n_shards} AS shard "
        f"FROM k) "
        f"SELECT cast(epoch as bigint) AS epoch, "
        f"cast(shard as bigint) AS shard, "
        f"cast(row_number() OVER (PARTITION BY epoch, shard "
        f"ORDER BY key, doc_id) - 1 as bigint) AS pos, doc_id, "
        f"cast(key as bigint) AS key FROM s"
    )


# ---------------------------------------------------------------------------
# sliding context-window chunking (the RAG / embedding-ingestion
# contract: fixed L-token windows at stride S < L so consecutive
# chunks overlap by L-S tokens; the final window is the last start
# position < ntok). Pure Catalyst (split + slice higher-order
# expressions) — map-only, no shuffle; at 10^12 docs the op is
# embarrassingly parallel. n_chunks = 1 + floor(max(ntok-1,0)/S)
# start positions thinned to those < ntok guards Spark's descending
# sequence(1, 0) trap via the >=1-token filter.

CHUNK_L = 32
CHUNK_S = 24


def sliding_chunks(
    docs: DataFrame, L: int = CHUNK_L, S: int = CHUNK_S
) -> DataFrame:
    """(doc_id, chunk_idx, start, chunk_len, chunk_md5) — one row per
    overlapping window."""
    toks = tokens_sql("spark")
    n = f"size({toks})"
    starts = (
        f"filter(transform(sequence(0, cast(({n} - 1) / {S} as int)), "
        f"i -> i * {S}), st -> st < {n})"
    )
    t = docs.filter(F.expr(f"{n} >= 1")).selectExpr(
        "doc_id", f"{toks} AS toks", f"{starts} AS starts"
    )
    ch = t.select(
        "doc_id",
        F.posexplode("starts").alias("chunk_idx", "start"),
        F.col("toks"),
    )
    return ch.selectExpr(
        "doc_id",
        "cast(chunk_idx as bigint) AS chunk_idx",
        "cast(start as bigint) AS start",
        f"cast(size(slice(toks, start + 1, {L})) as bigint) AS chunk_len",
        f"md5(concat_ws(' ', slice(toks, start + 1, {L}))) AS chunk_md5",
    )


def oracle_sliding_chunks(L: int = CHUNK_L, S: int = CHUNK_S) -> str:
    toks = tokens_sql("duckdb")
    return (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents "
        f"WHERE len({toks}) >= 1), "
        f"st AS (SELECT doc_id, toks, unnest(range(0, "
        f"cast((len(toks) - 1) / {S} as int) + 1)) AS chunk_idx "
        f"FROM t), "
        f"f AS (SELECT doc_id, toks, chunk_idx, chunk_idx * {S} AS start "
        f"FROM st WHERE chunk_idx * {S} < len(toks)) "
        f"SELECT doc_id, cast(chunk_idx as bigint) AS chunk_idx, "
        f"cast(start as bigint) AS start, "
        f"cast(len(list_slice(toks, start + 1, start + {L})) as bigint) "
        f"AS chunk_len, "
        f"md5(array_to_string(list_slice(toks, start + 1, start + {L}), "
        f"' ')) AS chunk_md5 "
        f"FROM f"
    )


# ---------------------------------------------------------------------------
# per-domain document cap (RefinedWeb / C4-style curation: bound any
# single domain's contribution by keeping at most K documents per
# source, chosen by a deterministic hash order so membership is
# reproducible across runs and engines. Penedo et al. 2023 §3.3 caps
# URL duplicates per domain; the primitive here is the same bounded
# top-K-per-group truncation.)

DOMAIN_CAP = 20


def domain_cap(docs: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """(doc_id, source, h, rnk, keep) — keep the ``cap``
    lowest-hash documents of each source.

    Scale: one shuffle on ``source`` (the window key); window width is
    the per-domain document count, never the corpus. A skewed domain
    is exactly the case the cap exists for — the window sort is
    O(domain size log domain size) within one task, and the salting
    machinery (operators/skew.py) applies if a single domain outgrows
    a task."""
    t = docs.selectExpr(
        "doc_id", "source", f"(doc_id * {KNUTH}) % 4294967296 AS h"
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return t.withColumn("rnk", F.row_number().over(w)).selectExpr(
        "doc_id", "source", "h",
        "cast(rnk as bigint) AS rnk",
        f"cast(rnk <= {cap} as int) AS keep",
    )


def oracle_domain_cap(cap: int = DOMAIN_CAP) -> str:
    return (
        f"WITH t AS (SELECT doc_id, source, "
        f"(doc_id * {KNUTH}) % 4294967296 AS h FROM documents) "
        f"SELECT doc_id, source, cast(h as bigint) AS h, "
        f"cast(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) "
        f"as bigint) AS rnk, "
        f"cast((row_number() OVER (PARTITION BY source ORDER BY h, doc_id)) "
        f"<= {cap} as int) AS keep FROM t"
    )


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters (Cormode & Muthukrishnan 2005: D
# independent hash rows x W counters; point estimate = min over rows;
# always an overestimate, within eps*N w.h.p. The distributed shape is
# the sketch's whole reason to exist: per-partition cells are summed
# map-side, the shuffle moves only D*W counters, never the vocabulary.)

CMS_D = 4
CMS_W = 128
CMS_TOPK = 20


def _cms_bucket_sql(d: str, th: str, width: int) -> str:
    """Row-d bucket of token hash ``th`` — affine-in-d mod a prime,
    then mod width. All int64-safe (th < HASH_P ~ 1e12, multiplier
    <= 2D+1)."""
    return f"(((({th}) * (2 * ({d}) + 3) + ({d}) * 9176) % 1000003) % {width})"


def cms_topk_estimate(
    docs: DataFrame, d_rows: int = CMS_D, width: int = CMS_W,
    k: int = CMS_TOPK,
) -> DataFrame:
    """(token, true_cnt, est_cnt) for the k most frequent tokens:
    exact counts next to their count-min-sketch point estimates
    (est >= true always; equality when no row collides).

    Scale: token counts are one map-side-combined groupBy; the sketch
    is a D*W-cell aggregate (the shuffle moves cells, not tokens); the
    probe side is top-k only, joined to the broadcast cell table."""
    toks = _with_tokens(docs).select(F.explode("toks").alias("token"))
    cnt = (
        toks.groupBy("token")
        .agg(F.count("*").alias("true_cnt"))
        .withColumn("th", F.expr(str_hash_sql("spark", "token")))
    )
    cells = (
        cnt.select(
            F.explode(F.expr(f"sequence(0, {d_rows - 1})")).alias("d"),
            "th", "true_cnt",
        )
        .selectExpr("d", f"{_cms_bucket_sql('d', 'th', width)} AS wb", "true_cnt")
        .groupBy("d", "wb")
        .agg(F.sum("true_cnt").alias("cell"))
    )
    topk = cnt.orderBy(F.desc("true_cnt"), "token").limit(k)
    probes = topk.select(
        "token", "true_cnt", "th",
        F.explode(F.expr(f"sequence(0, {d_rows - 1})")).alias("d"),
    ).selectExpr("token", "true_cnt", "d", f"{_cms_bucket_sql('d', 'th', width)} AS wb")
    return (
        probes.join(F.broadcast(cells), ["d", "wb"])
        .groupBy("token", "true_cnt")
        .agg(F.min("cell").alias("est_cnt"))
        .selectExpr(
            "token", "cast(true_cnt as bigint) AS true_cnt",
            "cast(est_cnt as bigint) AS est_cnt",
        )
    )


def oracle_cms_topk_estimate(
    d_rows: int = CMS_D, width: int = CMS_W, k: int = CMS_TOPK
) -> str:
    bucket = _cms_bucket_sql("d", "th", width)
    return (
        f"WITH t AS (SELECT unnest({tokens_sql('duckdb')}) AS token "
        f"FROM documents), "
        f"c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1), "
        f"h AS MATERIALIZED (SELECT token, cnt, "
        f"{str_hash_sql('duckdb', 'token')} AS th FROM c), "
        f"cells AS (SELECT d, {bucket} AS wb, "
        f"cast(sum(cnt) as bigint) AS cell "
        f"FROM h, range(0, {d_rows}) r(d) GROUP BY 1, 2), "
        f"top AS (SELECT token, cnt, th FROM h "
        f"ORDER BY cnt DESC, token LIMIT {k}), "
        f"probes AS (SELECT token, cnt, d, {bucket} AS wb "
        f"FROM top, range(0, {d_rows}) r(d)) "
        f"SELECT p.token, cast(p.cnt as bigint) AS true_cnt, "
        f"cast(min(cells.cell) as bigint) AS est_cnt "
        f"FROM probes p JOIN cells ON cells.d = p.d AND cells.wb = p.wb "
        f"GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier
# 2007, "HyperLogLog: the analysis of a near-optimal cardinality
# estimation algorithm"). The corpus-scale vocabulary counter: exact
# COUNT(DISTINCT token) shuffles every distinct token; HLL reduces the
# job to m=64 integer registers whose per-partition partials combine
# with MAX — at 10^12 tokens the shuffle moves <= m rows per
# partition. Numeric contract: the register harmonic sum is computed
# as the INTEGER sum of 2^(W+1-M_j) (W suffix bits), so everything
# up to the single final alpha*m^2*2^(W+1)/S division is order-free
# integer arithmetic and the oracle replays it exactly.
#
# Hash quality: the raw base-31 polynomial hash clusters on
# structured shingles (measured: register-max statistics land ~45%
# off md5's, far outside HLL's 13% std error at m=64), so the bucket/
# rank bits come from three xorshift + bounded-modmul finalizer
# rounds — each multiplier < 8e6 keeps every product < 2^63 (ANSI
# Spark would raise on int64 overflow), and the rounds restore
# md5-level estimate accuracy (measured on the shingle corpus).

HLL_M = 64          # registers (bucket = hash % m)
HLL_W = 30          # rank-suffix width: (P/m)/2^30 ~ 14.5 full
                    # cycles, so the mod-2^30 truncation bias is
                    # percent-level against a 13% std error
HLL_ALPHA = "0.709E0"  # alpha_64 (Flajolet et al., fig. 3)
HLL_MIX = ((4_185_899, 17), (3_266_489, 19), (6_543_211, 23))


def _hll_mix_steps(dialect: str) -> list[str]:
    """One SELECT expression per finalizer round (staged through
    named columns — never one giant inlined expression): th' =
    ((th XOR (th >> s)) * c) % P."""
    out = []
    for c, s in HLL_MIX:
        x = (
            f"(th ^ shiftright(th, {s}))"
            if dialect == "spark"
            else f"xor(th, th >> {s})"
        )
        out.append(f"({x} * {c}) % {HASH_P} AS th")
    return out


def trigrams_sql(dialect: str, toks: str = "toks") -> str:
    """Adjacent-token trigram shingles ('a b c') — the HLL sketch's
    item domain (the corpus wordlist is tiny; shingles give the
    cardinality a sketch is FOR, and shingle-set cardinality is the
    quantity dedup pipelines actually track)."""
    if dialect == "spark":
        # slice + chained zip_with for the same O(n^2)-inlining
        # reason as bigrams_sql; size<3 would hand slice a negative
        # length
        return (
            f"(CASE WHEN size({toks}) < 3 THEN array() "
            f"ELSE zip_with(zip_with("
            f"slice({toks}, 1, size({toks}) - 2), "
            f"slice({toks}, 2, size({toks}) - 2), "
            f"(a, b) -> concat(a, ' ', b)), "
            f"slice({toks}, 3, size({toks}) - 2), "
            f"(ab, c) -> concat(ab, ' ', c)) END)"
        )
    return (
        f"list_transform(range(1, len({toks}) - 1), "
        f"k -> {toks}[k] || ' ' || {toks}[k + 1] || ' ' || {toks}[k + 2])"
    )


def _hll_rank_sql(dialect: str, w: str) -> str:
    """HLL rank = leading-zero count of the W-bit suffix + 1
    = W + 1 - bit_length(w); bit_length via monotone integer
    comparisons (count of i in [1, W] with w >= 2^(i-1)) — no
    float log2 anywhere."""
    if dialect == "spark":
        bl = (
            f"size(filter(sequence(1, {HLL_W}), "
            f"i -> {w} >= shiftleft(cast(1 as bigint), i - 1)))"
        )
    else:
        bl = (
            f"len(list_filter(range(1, {HLL_W} + 1), "
            f"i -> {w} >= (cast(1 as bigint) << (i - 1))))"
        )
    return f"cast({HLL_W} + 1 - {bl} as bigint)"


def hll_alpha_lit(m: int) -> str:
    """alpha_m bias-correction literal (Flajolet et al. 2007, fig. 3:
    exact table values for m<=64, the asymptotic formula above)."""
    table = {16: "0.673E0", 32: "0.697E0", 64: "0.709E0"}
    if m in table:
        return table[m]
    from .. import synth

    return synth.flit(0.7213 / (1.0 + 1.079 / m))


def hll_distinct(docs: DataFrame, m: int = HLL_M) -> DataFrame:
    """One-row HLL cardinality estimate of the corpus's distinct
    token-trigram shingles:
    (m, v_zero, s_scaled, est_hll, exact_distinct).

    s_scaled = sum_j 2^(W+1-M_j) over all m registers (empty
    registers contribute 2^(W+1)); est_hll =
    floor(alpha_m * m^2 * 2^(W+1) / s_scaled) — the raw HLL
    estimator (no small-range correction: that branch needs ln and
    is unreachable at the operating point; v_zero exposes when it
    would apply). exact_distinct rides along as the accuracy
    witness."""
    alpha = hll_alpha_lit(m)
    toks = _with_tokens(docs).select(
        "doc_id", F.explode(F.expr(trigrams_sql("spark"))).alias("token")
    )
    h = toks.selectExpr(
        f"{str_hash_sql('spark', 'token')} AS th", "token"
    )
    for step in _hll_mix_steps("spark"):
        h = h.selectExpr(step, "token")
    regs = (
        h.selectExpr(
            f"th % {m} AS bucket",
            f"(th div {m}) % shiftleft(cast(1 as bigint), {HLL_W}) AS w",
        )
        .selectExpr("bucket", f"{_hll_rank_sql('spark', 'w')} AS r")
        .groupBy("bucket")
        .agg(F.max("r").alias("mj"))
    )
    reg_agg = regs.agg(
        F.count("*").alias("n_hit"),
        F.expr(
            f"cast(sum(shiftleft(cast(1 as bigint), {HLL_W} + 1 - "
            f"cast(mj as int))) as bigint)"
        ).alias("s_hit"),
    )
    exact = h.agg(F.countDistinct("token").alias("exact_distinct"))
    return reg_agg.crossJoin(F.broadcast(exact)).selectExpr(
        f"cast({m} as bigint) AS m",
        f"cast({m} - n_hit as bigint) AS v_zero",
        f"cast(s_hit + ({m} - n_hit) * "
        f"shiftleft(cast(1 as bigint), {HLL_W} + 1) as bigint) AS s_scaled",
        f"cast(floor({alpha} * {m}.0E0 * {m}.0E0 * "
        f"cast(shiftleft(cast(1 as bigint), {HLL_W} + 1) as double) / "
        f"cast(s_hit + ({m} - n_hit) * "
        f"shiftleft(cast(1 as bigint), {HLL_W} + 1) as double)) as bigint) "
        f"AS est_hll",
        "cast(exact_distinct as bigint) AS exact_distinct",
    )


def oracle_hll_distinct(m: int = HLL_M) -> str:
    alpha = hll_alpha_lit(m)
    rank = _hll_rank_sql(
        "duckdb", f"((th // {m}) % (cast(1 as bigint) << {HLL_W}))"
    )
    p2 = f"(cast(1 as bigint) << ({HLL_W} + 1))"
    mix = [
        f"h{i + 1} AS (SELECT token, {step} FROM h{i})"
        for i, step in enumerate(_hll_mix_steps("duckdb"))
    ]
    hfinal = f"h{len(HLL_MIX)}"
    return (
        f"WITH tk AS (SELECT {tokens_sql('duckdb')} AS toks "
        f"FROM documents), "
        f"t AS (SELECT unnest({trigrams_sql('duckdb')}) AS token FROM tk), "
        f"h0 AS (SELECT token, "
        f"{str_hash_sql('duckdb', 'token')} AS th FROM t), "
        + ", ".join(mix) + ", "
        f"h AS MATERIALIZED (SELECT token, th FROM {hfinal}), "
        f"regs AS (SELECT th % {m} AS bucket, "
        f"max({rank}) AS mj "
        f"FROM h GROUP BY 1), "
        f"ra AS (SELECT count(*) AS n_hit, "
        f"cast(sum(cast(1 as bigint) << cast({HLL_W} + 1 - mj as int)) "
        f"as bigint) AS s_hit FROM regs), "
        f"ex AS (SELECT count(DISTINCT token) AS exact_distinct FROM h) "
        f"SELECT cast({m} as bigint) AS m, "
        f"cast({m} - n_hit as bigint) AS v_zero, "
        f"cast(s_hit + ({m} - n_hit) * {p2} as bigint) AS s_scaled, "
        f"cast(floor({alpha} * {m}.0E0 * {m}.0E0 * "
        f"cast({p2} as double) / "
        f"cast(s_hit + ({m} - n_hit) * {p2} as double)) as bigint) "
        f"AS est_hll, "
        f"cast(exact_distinct as bigint) AS exact_distinct "
        f"FROM ra, ex"
    )


# ---------------------------------------------------------------------------
# BM25 ranking (Robertson & Zaragoza 2009, "The Probabilistic
# Relevance Framework: BM25 and Beyond") — the retrieval scorer a
# corpus-curation stack uses for query-based subset mining. The query
# term list is a fixed literal, so per-term tf columns come from one
# map-side pass over the tokens (no explode/shuffle), corpus stats
# (N, sum dl, per-term df) are ONE single-row aggregate broadcast
# back, and the ranking is a distributed top-k
# (TakeOrderedAndProject) — no full sort, no window over an
# unpartitioned frame. Per-term scores are floor-quantized at 1e-4
# BEFORE summation (the unigram_perplexity pattern) so the total is
# an order-free integer sum.

BM25_K1 = "1.2E0"
BM25_K1P1 = "2.2E0"   # k1 + 1
BM25_B = "0.75E0"
BM25_SCALE = 10_000
BM25_TERMS = ("spark", "filter", "window", "customer")


def _bm25_lam(term: str) -> str:
    return f"x -> x = '{term}'"


def _bm25_contrib_sql(i: int) -> str:
    """Fixed-point per-term contribution; expects tf{i}, dl, and the
    stats row (n_docs, sdl, df{i}) in scope. The arithmetic is one
    shared text in both dialects -> identical IEEE op sequence."""
    idf = (
        f"ln((cast(n_docs as double) - cast(df{i} as double) + 0.5E0) / "
        f"(cast(df{i} as double) + 0.5E0) + 1.0E0)"
    )
    dlnorm = (
        f"({BM25_K1} * (1.0E0 - {BM25_B} + {BM25_B} * "
        f"(cast(dl as double) / (cast(sdl as double) / cast(n_docs as double)))))"
    )
    return (
        f"CASE WHEN tf{i} = 0 THEN cast(0 as bigint) ELSE "
        f"cast(floor({BM25_SCALE}.0E0 * {idf} * "
        f"(cast(tf{i} as double) * {BM25_K1P1}) / "
        f"(cast(tf{i} as double) + {dlnorm})) as bigint) END"
    )


def bm25_topk(
    docs: DataFrame, terms: tuple[str, ...] = BM25_TERMS, k: int = 10
) -> DataFrame:
    """(rank, doc_id, score_fp, dl): top-k documents by BM25 over the
    fixed ``terms`` query. ``terms``/``k`` are the run-scale knobs
    (defaults match the oracle)."""
    nt = len(terms)
    tf_cols = [
        f"cast({_size('spark', _filter('spark', 'toks', _bm25_lam(t)))} "
        f"as bigint) AS tf{i}"
        for i, t in enumerate(terms)
    ]
    base = _with_tokens(docs).selectExpr(
        "doc_id", f"cast({_size('spark', 'toks')} as bigint) AS dl", *tf_cols
    )
    base = base.localCheckpoint(eager=True)  # feeds stats AND scoring
    stats = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sdl"),
        *[
            F.expr(f"cast(sum(cast(tf{i} > 0 as bigint)) as bigint)").alias(
                f"df{i}"
            )
            for i in range(nt)
        ],
    )
    total_tf = " + ".join(f"tf{i}" for i in range(nt))
    score = " + ".join(f"({_bm25_contrib_sql(i)})" for i in range(nt))
    scored = (
        base.crossJoin(F.broadcast(stats))
        .where(f"{total_tf} > 0")
        .selectExpr("doc_id", "dl", f"cast({score} as bigint) AS score_fp")
    )
    top = scored.orderBy(F.desc("score_fp"), "doc_id").limit(k)
    win = Window.orderBy(F.desc("score_fp"), "doc_id")
    return top.withColumn("rank", F.row_number().over(win).cast("int")).select(
        "rank", "doc_id", "score_fp", "dl"
    )


def oracle_bm25_topk(
    terms: tuple[str, ...] = BM25_TERMS, k: int = 10
) -> str:
    nt = len(terms)
    tf_cols = ", ".join(
        f"cast({_size('duckdb', _filter('duckdb', 'toks', _bm25_lam(t)))} "
        f"as bigint) AS tf{i}"
        for i, t in enumerate(terms)
    )
    dfs = ", ".join(
        f"cast(sum(cast(tf{i} > 0 as bigint)) as bigint) AS df{i}"
        for i in range(nt)
    )
    total_tf = " + ".join(f"tf{i}" for i in range(nt))
    score = " + ".join(f"({_bm25_contrib_sql(i)})" for i in range(nt))
    return (
        f"WITH d AS (SELECT doc_id, {tokens_sql('duckdb')} AS toks "
        f"FROM documents), "
        f"base AS MATERIALIZED (SELECT doc_id, "
        f"cast({_size('duckdb', 'toks')} as bigint) AS dl, {tf_cols} FROM d), "
        f"stats AS (SELECT cast(count(*) as bigint) AS n_docs, "
        f"cast(sum(dl) as bigint) AS sdl, {dfs} FROM base), "
        f"scored AS (SELECT doc_id, dl, cast({score} as bigint) AS score_fp "
        f"FROM base, stats WHERE {total_tf} > 0) "
        f"SELECT cast(row_number() OVER (ORDER BY score_fp DESC, doc_id) "
        f"as int) AS rank, doc_id, score_fp, dl FROM scored "
        f"ORDER BY score_fp DESC, doc_id LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# PII redaction (the Dolma / BigScience-ROOTS scrubbing stage: regex
# masking of emails, IPv4 addresses, and phone numbers before
# training. Soldaini et al. 2024 "Dolma" §4.1 and the CCNet/ROOTS PII
# pipelines use exactly this shape: a fixed regex family applied
# corpus-wide, map-only — at 10^12 documents the operator is a pure
# column scan, zero shuffle, zero Python.)
#
# The regexes stay in the dialect-common subset (character classes +
# bounded quantifiers, no backslash classes, no anchors) so Java
# regex (Spark) and RE2 (DuckDB) agree: with no alternation and
# disjoint adjacent character classes, greedy-backtracking and
# leftmost-longest produce identical matches. The corpus text itself
# carries no PII, so the fragment deterministically plants synthetic
# PII derived from doc_id (same SQL in both dialects) — the gate then
# checks counts AND the scrubbed text bit-for-bit.

PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_IP_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_plant_sql() -> str:
    """Deterministic synthetic-PII injection (dialect-neutral)."""
    return (
        "concat(text,"
        " CASE WHEN doc_id % 3 = 0 THEN concat(' u', cast(doc_id as string),"
        "   '@ex', cast(doc_id % 5 as string), '.org') ELSE '' END,"
        " CASE WHEN doc_id % 4 = 1 THEN concat(' ip 10.',"
        "   cast(doc_id % 256 as string), '.0.',"
        "   cast(doc_id % 100 as string)) ELSE '' END,"
        " CASE WHEN doc_id % 5 = 2 THEN concat(' call 555-',"
        "   cast(100 + doc_id % 900 as string), '-',"
        "   cast(1000 + doc_id % 9000 as string)) ELSE '' END)"
    )


def _re_count_sql(dialect: str, col: str, pat: str) -> str:
    if dialect == "spark":
        return f"cast(size(regexp_extract_all({col}, '{pat}', 0)) as bigint)"
    return f"cast(len(regexp_extract_all({col}, '{pat}')) as bigint)"


def _re_scrub_sql(dialect: str, col: str, pat: str, repl: str) -> str:
    if dialect == "spark":
        return f"regexp_replace({col}, '{pat}', '{repl}')"
    return f"regexp_replace({col}, '{pat}', '{repl}', 'g')"


def pii_select_sql(dialect: str) -> list[str]:
    d = dialect
    # emails first (they contain dotted digit runs the IP regex would
    # otherwise bite), then IPs, then phones
    scrub = _re_scrub_sql(d, "pii_text", PII_EMAIL_RE, "<EMAIL>")
    scrub = _re_scrub_sql(d, scrub, PII_IP_RE, "<IP>")
    scrub = _re_scrub_sql(d, scrub, PII_PHONE_RE, "<PHONE>")
    return [
        _re_count_sql(d, "pii_text", PII_EMAIL_RE) + " AS n_emails",
        _re_count_sql(d, "pii_text", PII_IP_RE) + " AS n_ips",
        _re_count_sql(d, "pii_text", PII_PHONE_RE) + " AS n_phones",
        f"{scrub} AS clean_text",
    ]


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Email/IP/phone redaction + per-doc match counts.

    Map-only pure-Catalyst plan: the planted column is staged through
    a named projection (not inlined into the four regex consumers) so
    the concat evaluates once per row."""
    return docs.selectExpr(
        "doc_id", f"{pii_plant_sql()} AS pii_text"
    ).selectExpr("doc_id", *pii_select_sql("spark"))


def oracle_pii_scrub() -> str:
    return (
        f"WITH t AS (SELECT doc_id, {pii_plant_sql()} AS pii_text "
        f"FROM documents) "
        f"SELECT doc_id, {', '.join(pii_select_sql('duckdb'))} FROM t"
    )


# ---------------------------------------------------------------------------
# URL canonicalization — the normalization every web-corpus dedup
# runs before URL-level dedup (C4, Raffel et al. 2020 §2.1 dedupes
# at the URL level; CCNet/RefinedWeb likewise): lowercase scheme and
# host, strip the default port (:80 http / :443 https), strip the
# "www." prefix, drop fragments and utm_* tracking params, strip the
# trailing slash. Raw URLs are planted deterministically from doc_id
# (six messy variants per block; the five https ones canonicalize to
# ONE URL — the http variant stays distinct, scheme is semantic — so
# the canonical-group stage is exercised too). Pure-Catalyst
# column scan + one bounded window — no Python, no corpus-scale
# shuffle beyond the canonical group-by at 10^12 rows.


def url_plant_sql(dialect: str) -> str:
    cast = "varchar" if dialect == "duckdb" else "string"
    idiv = "//" if dialect == "duckdb" else "div"
    g = f"cast((doc_id {idiv} 6) % 50 as {cast})"
    d = f"cast(doc_id {idiv} 6 as {cast})"
    return (
        f"(CASE doc_id % 6 "
        f"WHEN 0 THEN concat('https://WWW.Example', {g}, "
        f"'.COM/path/page', {d}, '?utm_source=x&id=', {d}) "
        f"WHEN 1 THEN concat('https://www.example', {g}, "
        f"'.com:443/path/page', {d}, '?id=', {d}) "
        f"WHEN 2 THEN concat('http://example', {g}, "
        f"'.com:80/path/page', {d}, '/?id=', {d}) "
        f"WHEN 3 THEN concat('https://www.example', {g}, "
        f"'.com/path/page', {d}, '?id=', {d}, '&utm_campaign=y') "
        f"WHEN 4 THEN concat('https://example', {g}, "
        f"'.com/path/page', {d}, '?id=', {d}, '#frag') "
        f"ELSE concat('https://www.example', {g}, "
        f"'.com/path/page', {d}, '?id=', {d}) END)"
    )


def url_canon_sql(dialect: str, url: str = "url_raw") -> str:
    """Canonical URL from a raw URL column — dialect-common regex
    subset (see pii_scrub); scheme CASE makes http's :80 and
    https's :443 the only dropped ports."""
    scheme = f"lower(regexp_extract({url}, '^([A-Za-z]+)://', 1))"
    host = f"lower(regexp_extract({url}, '^[A-Za-z]+://([^/:?#]+)', 1))"
    host2 = (
        f"(CASE WHEN {host} LIKE 'www.%' "
        f"THEN substr({host}, 5) ELSE {host} END)"
    )
    port = f"regexp_extract({url}, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1)"
    port2 = (
        f"(CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') THEN '' "
        f"ELSE concat(':', {port}) END)"
    )
    path = f"regexp_extract({url}, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)"
    path2 = (
        f"(CASE WHEN {path} = '' THEN '/' "
        f"WHEN length({path}) > 1 AND {path} LIKE '%/' "
        f"THEN substr({path}, 1, length({path}) - 1) ELSE {path} END)"
    )
    q = f"regexp_extract({url}, '[?]([^#]*)', 1)"
    # Literal 'utm_' prefix test via substr — LIKE 'utm_%' would treat
    # '_' as a single-char wildcard (stripping e.g. 'utmx=1') in both
    # dialects, diverging from the documented utm_* tracking-param rule.
    if dialect == "duckdb":
        kept = (
            f"array_to_string(list_filter(string_split({q}, '&'), "
            f"p -> p <> '' AND substr(p, 1, 4) <> 'utm_'), '&')"
        )
    else:
        kept = (
            f"array_join(filter(split({q}, '&'), "
            f"p -> p <> '' AND substr(p, 1, 4) <> 'utm_'), '&')"
        )
    q2 = f"(CASE WHEN {kept} = '' THEN '' ELSE concat('?', {kept}) END)"
    return (
        f"concat({scheme}, '://', {host2}, {port2}, {path2}, {q2})"
    )


def url_canonicalize(docs: DataFrame) -> DataFrame:
    """(doc_id, url_canon, canon_id, is_dup): canonical form + the
    smallest doc_id sharing it (the keeper under URL-level dedup)."""
    staged = docs.selectExpr(
        "doc_id", f"{url_plant_sql('spark')} AS url_raw"
    ).selectExpr("doc_id", f"{url_canon_sql('spark')} AS url_canon")
    w = Window.partitionBy("url_canon")
    return (
        staged.withColumn("canon_id", F.min("doc_id").over(w))
        .selectExpr(
            "doc_id", "url_canon", "canon_id",
            "cast(doc_id <> canon_id as int) AS is_dup",
        )
    )


def oracle_url_canonicalize() -> str:
    return (
        f"WITH raw AS (SELECT doc_id, {url_plant_sql('duckdb')} AS url_raw "
        f"FROM documents), "
        f"canon AS (SELECT doc_id, "
        f"{url_canon_sql('duckdb')} AS url_canon FROM raw) "
        f"SELECT doc_id, url_canon, "
        f"min(doc_id) OVER (PARTITION BY url_canon) AS canon_id, "
        f"cast(doc_id <> min(doc_id) OVER (PARTITION BY url_canon) "
        f"as int) AS is_dup FROM canon"
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit — the corpus-health diagnostic every large
# text pipeline plots (Zipf 1949; natural corpora fit freq ~ rank^-s
# with s ~ 1; heavy dedup/boilerplate skews s). One token-count
# shuffle (map-side combined), a top-K window on a K-row table, then
# an exact-integer least squares over floor-quantized logs: ln() of a
# small integer lands ~1e-10 off the 1e-6 grid at worst, so the
# quantized values are engine-stable and every sum is int64-exact;
# the slope/intercept are single correctly-rounded float expressions
# over those exact sums.

ZIPF_TOPK = 64


def zipf_fit(docs: DataFrame, k: int = ZIPF_TOPK) -> DataFrame:
    """One row: (k_used, slope_key, icept_key) of the log-log LSQ
    over the top-k token frequencies (1e6-keyed)."""
    toks = docs.selectExpr(
        f"explode({tokens_sql('spark')}) AS tok"
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    # TakeOrderedAndProject (distributed top-k), THEN rank the k rows
    topk = counts.orderBy(F.desc("freq"), "tok").limit(k)
    w = Window.orderBy(F.desc("freq"), "tok")
    top = (
        topk.withColumn("rank", F.row_number().over(w))
        .selectExpr(
            "cast(floor(ln(cast(rank as double)) * 1000000.0E0) "
            "as bigint) AS lr",
            "cast(floor(ln(cast(freq as double)) * 1000000.0E0) "
            "as bigint) AS lf",
        )
    )
    return top.selectExpr(
        "count(*) AS k_used",
        "sum(lr) AS s_lr", "sum(lf) AS s_lf",
        "sum(lr * lf) AS s_lrlf", "sum(lr * lr) AS s_lr2",
    ).selectExpr(
        "cast(k_used as int) AS k_used",
        "cast(floor(1000000.0E0 * "
        "cast(k_used * s_lrlf - s_lr * s_lf as double) / "
        "cast(k_used * s_lr2 - s_lr * s_lr as double)) as bigint) "
        "AS slope_key",
        "cast(floor("
        "(cast(s_lf as double) / cast(k_used as double) - "
        "(cast(k_used * s_lrlf - s_lr * s_lf as double) / "
        "cast(k_used * s_lr2 - s_lr * s_lr as double)) * "
        "(cast(s_lr as double) / cast(k_used as double))) "
        ") as bigint) AS icept_key",
    )


def oracle_zipf_fit(k: int = ZIPF_TOPK) -> str:
    return (
        f"WITH toks AS (SELECT unnest({tokens_sql('duckdb')}) AS tok "
        f"FROM documents), "
        f"counts AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1), "
        f"top AS MATERIALIZED (SELECT "
        f"cast(floor(ln(cast(rank as double)) * 1000000.0E0) as bigint) "
        f"AS lr, "
        f"cast(floor(ln(cast(freq as double)) * 1000000.0E0) as bigint) "
        f"AS lf FROM (SELECT freq, row_number() OVER ("
        f"ORDER BY freq DESC, tok) AS rank FROM counts) WHERE rank <= {k}), "
        f"sums AS (SELECT cast(count(*) as bigint) AS k_used, "
        f"cast(sum(lr) as bigint) AS s_lr, "
        f"cast(sum(lf) as bigint) AS s_lf, "
        f"cast(sum(lr * lf) as bigint) AS s_lrlf, "
        f"cast(sum(lr * lr) as bigint) AS s_lr2 FROM top) "
        f"SELECT cast(k_used as int) AS k_used, "
        f"cast(floor(1000000.0E0 * "
        f"cast(k_used * s_lrlf - s_lr * s_lf as double) / "
        f"cast(k_used * s_lr2 - s_lr * s_lr as double)) as bigint) "
        f"AS slope_key, "
        f"cast(floor("
        f"(cast(s_lf as double) / cast(k_used as double) - "
        f"(cast(k_used * s_lrlf - s_lr * s_lf as double) / "
        f"cast(k_used * s_lr2 - s_lr * s_lr as double)) * "
        f"(cast(s_lr as double) / cast(k_used as double))) "
        f") as bigint) AS icept_key FROM sums"
    )


# ---------------------------------------------------------------------------
# bigram LM perplexity — the KenLM-style step up from the unigram
# model (CCNet trains 5-gram LMs; the conditional-probability
# machinery is identical at order 2 and already separates fluent from
# shuffled text): NLL(w1 w2) = ln(c(w1)/c(w1 w2)) under the corpus
# MLE bigram model, quantized per DISTINCT bigram before any sum (the
# house order-free fixed point). Two map-side-combined count shuffles
# + one bigram equi-join — linear at 10^12 docs.


def bigram_perplexity(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, nll_sum_b, nll_avg_b): per-doc NLL under
    the corpus bigram model, 1e-4 nats; docs under 2 tokens get the
    -1 sentinel average."""
    big = _with_tokens(docs).selectExpr(
        "doc_id", f"explode({bigrams_sql('spark')}) AS bg"
    )
    big = big.localCheckpoint(eager=True)  # feeds counts AND scoring
    c12 = big.groupBy("bg").agg(F.count("*").alias("c12"))
    # left-context counts derive from the bigram table itself
    # (c(w1 .) = sum over w2), so the two models can't drift apart
    c1 = (
        c12.selectExpr("split_part(bg, ' ', 1) AS w1", "c12")
        .groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    )
    nll = (
        c12.selectExpr("bg", "split_part(bg, ' ', 1) AS w1", "c12")
        .join(c1, "w1")
        .selectExpr(
            "bg",
            f"cast(floor({PPL_SCALE}.0E0 * ln(cast(c1 as double) "
            f"/ cast(c12 as double))) as bigint) AS nll_b",
        )
    )
    d = big.join(nll, "bg").groupBy("doc_id").agg(
        F.sum("nll_b").cast("bigint").alias("nll_sum_b"),
        F.count("*").cast("bigint").alias("n_bigrams"),
    )
    # docs with < 2 tokens produce no bigram rows — restore them with
    # the sentinel via a left join from the full doc list
    return (
        docs.select("doc_id")
        .join(d, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(n_bigrams, 0) AS n_bigrams",
            "coalesce(nll_sum_b, 0) AS nll_sum_b",
            "CASE WHEN coalesce(n_bigrams, 0) = 0 THEN -1 "
            "ELSE nll_sum_b div n_bigrams END AS nll_avg_b",
        )
    )


def oracle_bigram_perplexity() -> str:
    return (
        f"WITH t AS (SELECT doc_id, {tokens_sql('duckdb')} AS toks "
        f"FROM documents), "
        f"b AS MATERIALIZED (SELECT doc_id, "
        f"unnest({bigrams_sql('duckdb')}) AS bg FROM t), "
        f"c12 AS MATERIALIZED (SELECT bg, count(*) AS c12 FROM b "
        f"GROUP BY 1), "
        f"c1 AS (SELECT split_part(bg, ' ', 1) AS w1, "
        f"cast(sum(c12) as bigint) AS c1 FROM c12 GROUP BY 1), "
        f"nll AS (SELECT bg, cast(floor({PPL_SCALE}.0E0 * "
        f"ln(cast(c1 as double) / cast(c12 as double))) as bigint) "
        f"AS nll_b FROM c12 JOIN c1 "
        f"ON c1.w1 = split_part(c12.bg, ' ', 1)), "
        f"d AS (SELECT doc_id, cast(sum(nll_b) as bigint) AS nll_sum_b, "
        f"cast(count(*) as bigint) AS n_bigrams "
        f"FROM b JOIN nll USING (bg) GROUP BY 1) "
        f"SELECT doc_id, "
        f"coalesce(n_bigrams, 0) AS n_bigrams, "
        f"coalesce(nll_sum_b, 0) AS nll_sum_b, "
        f"CASE WHEN coalesce(n_bigrams, 0) = 0 THEN -1 "
        f"ELSE nll_sum_b // n_bigrams END AS nll_avg_b "
        f"FROM documents LEFT JOIN d USING (doc_id)"
    )


# ---------------------------------------------------------------------------
# HTML boilerplate extraction — the step WET-skipping pipelines run
# on raw HTML (RefinedWeb §3.1 uses trafilatura; the primitive is
# "keep the content blocks, drop nav/ads/footer chrome, strip tags").
# Raw HTML is planted deterministically around each document's text
# (nav + ad + footer chrome, content split across two <p> blocks) and
# the extractor recovers content from <p> blocks only, plus the
# tag-stripped fallback text and the content/total ratio (the
# link-density-style boilerplate signal). Dialect-common regex
# subset; pure-Catalyst map-only scan — zero shuffle at 10^12 docs.


def html_plant_sql(dialect: str) -> str:
    toks = tokens_sql(dialect, "text")
    if dialect == "spark":
        n = f"size({toks})"
        half1 = f"array_join(slice({toks}, 1, greatest(1, {n} div 2)), ' ')"
        half2 = (
            f"array_join(slice({toks}, greatest(1, {n} div 2) + 1, "
            f"greatest(0, {n} - greatest(1, {n} div 2))), ' ')"
        )
    else:
        n = f"len({toks})"
        half1 = (
            f"array_to_string(array_slice({toks}, 1, "
            f"greatest(1, {n} // 2)), ' ')"
        )
        half2 = (
            f"array_to_string(array_slice({toks}, "
            f"greatest(1, {n} // 2) + 1, {n}), ' ')"
        )
    return (
        f"concat('<html><head><title>Doc ', cast(doc_id as "
        f"{'varchar' if dialect == 'duckdb' else 'string'}), "
        f"'</title></head><body>"
        f"<nav>Home | About | Login</nav>', "
        f"'<p>', {half1}, '</p>', "
        f"'<div class=\"ad\">Buy now! Subscribe today!</div>', "
        f"'<p>', {half2}, '</p>', "
        f"'<footer>(c) example.com - Privacy - Terms</footer>"
        f"</body></html>')"
    )


def html_extract(docs: DataFrame) -> DataFrame:
    """(doc_id, n_paras, content, content_len, stripped_len,
    content_ppm): <p>-block extraction + tag-strip fallback."""
    paras = "regexp_extract_all(html, '<p>([^<]*)</p>', 1)"
    stripped = (
        "trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' '), "
        "' +', ' '))"
    )
    return docs.selectExpr(
        "doc_id", f"{html_plant_sql('spark')} AS html"
    ).selectExpr(
        "doc_id", f"{paras} AS paras", f"{stripped} AS stripped"
    ).selectExpr(
        "doc_id",
        "cast(size(paras) as int) AS n_paras",
        "array_join(paras, ' ') AS content",
        "length(array_join(paras, ' ')) AS content_len",
        "length(stripped) AS stripped_len",
        "cast(floor(1000000.0E0 * cast(length(array_join(paras, ' ')) "
        "as double) / cast(length(stripped) as double)) as bigint) "
        "AS content_ppm",
    )


def oracle_html_extract() -> str:
    paras = "regexp_extract_all(html, '<p>([^<]*)</p>', 1)"
    stripped = (
        "trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'), "
        "' +', ' ', 'g'))"
    )
    return (
        f"WITH h AS (SELECT doc_id, {html_plant_sql('duckdb')} AS html "
        f"FROM documents), "
        f"e AS (SELECT doc_id, {paras} AS paras, {stripped} AS stripped "
        f"FROM h) "
        f"SELECT doc_id, cast(len(paras) as int) AS n_paras, "
        f"array_to_string(paras, ' ') AS content, "
        f"length(array_to_string(paras, ' ')) AS content_len, "
        f"length(stripped) AS stripped_len, "
        f"cast(floor(1000000.0E0 * cast(length(array_to_string(paras, "
        f"' ')) as double) / cast(length(stripped) as double)) as bigint) "
        f"AS content_ppm "
        f"FROM e"
    )


# ---------------------------------------------------------------------------
# deterministic repeat-upsampling — the data-constrained complement
# of source_mix_sample (Muennighoff et al. 2022, "Scaling
# Data-Constrained Language Models": repeat high-quality sources for
# multiple epochs rather than dilute with low-quality data). Each
# source gets a repetition factor in millionths; every document is
# emitted floor(f) times plus one more iff its Knuth hash lands
# under the fractional remainder — reproducible across runs,
# engines and partitionings, never rand(). The explode is a
# generator (posexplode over a per-row sequence) — map-side 1->k,
# no join, no shuffle at 10^12 docs.

UPS_MOD = 1_000_000


def _ups_rate_ppm_sql() -> str:
    """Repetition factor in ppm by source index: src0-4 x2.5, 5-9
    x1.5, 10-14 x1.0, 15+ x0.25 (the sub-1 tail doubles as a
    downsample — same rule, same hash)."""
    idx = "cast(substr(source, 4) as int)"
    return (
        f"(CASE WHEN {idx} < 5 THEN 2500000 "
        f"WHEN {idx} < 10 THEN 1500000 "
        f"WHEN {idx} < 15 THEN 1000000 ELSE 250000 END)"
    )


def repeat_upsample(docs: DataFrame) -> DataFrame:
    """(doc_id, source, copy_idx, n_copies): each doc repeated per
    its source's factor; copy_idx 0..n_copies-1."""
    h = f"((doc_id * {KNUTH}) % 4294967296) % {UPS_MOD}"
    n = (
        f"({_ups_rate_ppm_sql()} div {UPS_MOD} + "
        f"cast({h} < {_ups_rate_ppm_sql()} % {UPS_MOD} as int))"
    )
    return (
        docs.selectExpr("doc_id", "source", f"cast({n} as bigint) AS n_copies")
        .filter("n_copies > 0")
        .selectExpr(
            "doc_id", "source", "n_copies",
            "posexplode(array_repeat(1, cast(n_copies as int))) "
            "AS (copy_idx, one)",
        )
        .select("doc_id", "source", "copy_idx", "n_copies")
    )


def oracle_repeat_upsample() -> str:
    h = f"((doc_id * {KNUTH}) % 4294967296) % {UPS_MOD}"
    n = (
        f"({_ups_rate_ppm_sql()} // {UPS_MOD} + "
        f"cast({h} < {_ups_rate_ppm_sql()} % {UPS_MOD} as int))"
    )
    return (
        f"WITH d AS (SELECT doc_id, source, {n} AS n_copies "
        f"FROM documents), "
        f"e AS (SELECT doc_id, source, n_copies, "
        f"unnest(range(0, n_copies)) AS copy_idx FROM d "
        f"WHERE n_copies > 0) "
        f"SELECT doc_id, source, cast(copy_idx as int) AS copy_idx, "
        f"cast(n_copies as bigint) AS n_copies FROM e"
    )


# ---------------------------------------------------------------------------
# fastText-style hashed linear classifier inference — the quality
# filter shape GPT-3/CCNet actually ran (Joulin et al. 2016, "Bag of
# Tricks for Efficient Text Classification": features = word unigrams
# + word bigrams, hashed into B buckets, score = mean of bucket
# weights). Weights are a deterministic function of the bucket index
# (a planted model — the INFERENCE dataflow is the operator), so the
# whole thing is a map-side explode + integer aggregate: no weight
# table, no join, no Python, linear at 10^12 docs.

FT_BUCKETS = 1024
FT_WKNUTH = 2_654_435_761


def _ft_weight_sql(bucket: str) -> str:
    """Planted integer weight in [-2048, 2047] from the bucket id."""
    return f"(((({bucket}) * {FT_WKNUTH}) % 4294967296) % 4096 - 2048)"


def fasttext_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_feats, score_sum, score_avg_k, label): hashed
    unigram+bigram linear score; label = sign of the mean weight."""
    feats = (
        _with_tokens(docs)
        .selectExpr(
            "doc_id",
            f"concat(toks, {bigrams_sql('spark')}) AS feats",
        )
        .selectExpr("doc_id", "explode(feats) AS f")
    )
    bucket = f"({str_hash_sql('spark', 'f')} % {FT_BUCKETS})"
    scored = feats.selectExpr(
        "doc_id", f"{_ft_weight_sql(bucket)} AS wgt"
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_feats"),
        F.sum("wgt").cast("bigint").alias("score_sum"),
    )
    # Left-join back onto the full doc list so zero-token documents
    # keep a row (n_feats=0, sentinel score/label -1) instead of
    # silently vanishing from the per-doc scoring surface — the house
    # sentinel convention (see bigram_perplexity).
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(n_feats, 0) AS n_feats",
            "coalesce(score_sum, 0) AS score_sum",
            "CASE WHEN n_feats IS NULL THEN cast(-1 as bigint) "
            "ELSE cast(floor(1000000.0E0 * cast(score_sum as double) "
            "/ cast(n_feats as double)) as bigint) END AS score_avg_k",
            "CASE WHEN n_feats IS NULL THEN -1 "
            "ELSE cast(score_sum >= 0 as int) END AS label",
        )
    )


def oracle_fasttext_score() -> str:
    bucket = f"({str_hash_sql('duckdb', 'f')} % {FT_BUCKETS})"
    return (
        f"WITH t AS (SELECT doc_id, {tokens_sql('duckdb')} AS toks "
        f"FROM documents), "
        f"fe AS (SELECT doc_id, unnest(list_concat(toks, "
        f"{bigrams_sql('duckdb')})) AS f FROM t), "
        f"sc AS (SELECT doc_id, {_ft_weight_sql(bucket)} AS wgt FROM fe), "
        f"ag AS (SELECT doc_id, cast(count(*) as bigint) AS n_feats, "
        f"cast(sum(wgt) as bigint) AS score_sum, "
        f"cast(floor(1000000.0E0 * cast(sum(wgt) as double) "
        f"/ cast(count(*) as double)) as bigint) AS score_avg_k, "
        f"cast(sum(wgt) >= 0 as int) AS label "
        f"FROM sc GROUP BY 1) "
        f"SELECT d.doc_id, coalesce(ag.n_feats, 0) AS n_feats, "
        f"coalesce(ag.score_sum, 0) AS score_sum, "
        f"coalesce(ag.score_avg_k, -1) AS score_avg_k, "
        f"cast(coalesce(ag.label, -1) as int) AS label "
        f"FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id"
    )
