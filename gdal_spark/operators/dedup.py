"""Deduplication operators for training-data pipelines.

Four dedup families over the ``documents`` table, each a first-class
DataFrame stage designed for 100 TB corpora:

- **exact**: md5 content hash (raw + whitespace-normalized) →
  groupBy hash; one shuffle on a 128-bit key, canonical = min doc_id.
- **n-gram Jaccard**: word 3-gram shingles → shingle-equijoin →
  exact Jaccard. The shingle join is the scale path: pair generation
  is bounded by shingle document-frequency, not O(n^2).
- **MinHash + LSH**: k=16 universal hashes over shingle hashes,
  banded 4x4; candidate pairs join on (band, signature); candidates
  verified with exact Jaccard (the standard filter-verify pattern).
- **SimHash**: 32-bit sign-aggregated token-hash fingerprint; near-dup
  pairs found by 8-bit band join + hamming<=3 verify.

All arithmetic (rolling hashes, minhash permutations, sign sums) is
integer-exact and expressed identically in Spark SQL and DuckDB, so
the driver oracle value-checks every stage. No Python UDFs anywhere —
everything is Catalyst higher-order expressions + joins/aggregations
(whole-stage codegen), which is what survives a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .textops import HASH_P, str_hash_sql, token_hashes_sql, tokens_sql

SHINGLE_N = 3
NUM_HASHES = 16
BAND_ROWS = 4  # 4 bands x 4 rows
MINHASH_B = 7919


def _size(dialect: str, e: str) -> str:
    return f"size({e})" if dialect == "spark" else f"len({e})"


# ---------------------------------------------------------------------------
# exact dedup


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Content-hash dedup: (doc_id, content_md5, norm_md5,
    canonical_id, group_n, is_dup). canonical = min doc_id per
    normalized hash; is_dup flags non-canonical members."""
    h = docs.selectExpr(
        "doc_id",
        "md5(text) AS content_md5",
        f"md5(concat_ws(' ', {tokens_sql('spark')})) AS norm_md5",
    )
    win = Window.partitionBy("norm_md5")
    return h.select(
        "doc_id",
        "content_md5",
        "norm_md5",
        F.min("doc_id").over(win).alias("canonical_id"),
        F.count("*").over(win).alias("group_n"),
    ).withColumn(
        "is_dup", (F.col("doc_id") != F.col("canonical_id")).cast("int")
    )


def oracle_exact_dedup() -> str:
    return (
        f"WITH h AS (SELECT doc_id, md5(text) AS content_md5, "
        f"md5(array_to_string({tokens_sql('duckdb')}, ' ')) AS norm_md5 "
        f"FROM documents) "
        f"SELECT doc_id, content_md5, norm_md5, "
        f"min(doc_id) OVER (PARTITION BY norm_md5) AS canonical_id, "
        f"count(*) OVER (PARTITION BY norm_md5) AS group_n, "
        f"cast(doc_id <> min(doc_id) OVER (PARTITION BY norm_md5) as int) AS is_dup "
        f"FROM h"
    )


# ---------------------------------------------------------------------------
# shingles (shared by Jaccard + MinHash)


def shingle_list_sql(dialect: str, n: int = SHINGLE_N) -> str:
    """Distinct word n-gram shingles of the ``toks`` array column."""
    if dialect == "spark":
        return (
            f"array_distinct(transform(sequence(0, size(toks) - {n}), "
            f"k -> concat_ws(' ', slice(toks, k + 1, {n}))))"
        )
    return (
        f"list_distinct(list_transform(range(0, len(toks) - {n} + 1), "
        f"k -> array_to_string(toks[k + 1:k + {n}], ' ')))"
    )


def shingles_df(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) — exploded distinct n-gram shingles."""
    return (
        docs.withColumn("toks", F.expr(tokens_sql("spark")))
        .filter(F.expr(f"size(toks) >= {n}"))
        .select(
            "doc_id",
            F.explode(F.expr(shingle_list_sql("spark", n))).alias("shingle"),
        )
    )


def _shingles_cte(n: int = SHINGLE_N) -> str:
    """DuckDB CTE body for (doc_id, shingle)."""
    return (
        f"SELECT doc_id, unnest({shingle_list_sql('duckdb', n)}) AS shingle "
        f"FROM (SELECT doc_id, {tokens_sql('duckdb')} AS toks FROM documents) "
        f"WHERE len(toks) >= {n}"
    )


def _jacc_key() -> str:
    """Integer-scaled Jaccard (dialect-neutral): floor(1e6 * i/u)."""
    return (
        "cast(floor(1000000.0E0 * cast(inter as double) "
        "/ cast(union_n as double)) as bigint)"
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exhaustive filter-free path)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = SHINGLE_N,
    min_jacc_ppm: int = 200_000,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact word-n-gram Jaccard >= threshold.
    Pair generation via shingle equi-join (shuffle on shingle), then
    integer-exact threshold test inter*1e6 >= ppm*union.

    ``max_df`` (stop-shingle cap): shingles whose document frequency
    exceeds it are dropped from the shingle sets BEFORE pairing — the
    100 TB guard against a boilerplate shingle shared by millions of
    docs turning the equi-join quadratic. Deterministic (the oracle
    applies the identical filter); None = exact, uncapped."""
    sh = shingles_df(docs, n)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # sh feeds sizes + both sides of the pair join -> materialize once
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.selectExpr("doc_id AS doc_a", "n_sh AS n_a")
    sb = sizes.selectExpr("doc_id AS doc_b", "n_sh AS n_b")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_n", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.col("inter") * 1_000_000 >= min_jacc_ppm * F.col("union_n"))
        .selectExpr("doc_a", "doc_b", "inter", "union_n", f"{_jacc_key()} AS jacc_key")
    )


def oracle_ngram_jaccard(
    n: int = SHINGLE_N,
    min_jacc_ppm: int = 200_000,
    max_df: int | None = None,
) -> str:
    cap = (
        ""
        if max_df is None
        else (
            f"sh0 AS (SELECT * FROM sh WHERE shingle NOT IN ("
            f"SELECT shingle FROM sh GROUP BY shingle "
            f"HAVING count(DISTINCT doc_id) > {max_df})), "
        )
    )
    src = "sh" if max_df is None else "sh0"
    return (
        f"WITH sh AS ({_shingles_cte(n)}), {cap}"
        f"sizes AS (SELECT doc_id, count(*) AS n_sh FROM {src} GROUP BY doc_id), "
        f"ij AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter "
        f"FROM {src} a JOIN {src} b "
        f"ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        f"GROUP BY 1, 2) "
        f"SELECT doc_a, doc_b, inter, sa.n_sh + sb.n_sh - inter AS union_n, "
        f"{_jacc_key().replace('union_n', '(sa.n_sh + sb.n_sh - inter)')} AS jacc_key "
        f"FROM ij JOIN sizes sa ON sa.doc_id = doc_a "
        f"JOIN sizes sb ON sb.doc_id = doc_b "
        f"WHERE inter * 1000000 >= {min_jacc_ppm} * (sa.n_sh + sb.n_sh - inter)"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    min_jacc_ppm: int = 200_000,
) -> DataFrame:
    """Filter-verify near-dup: LSH band join proposes candidates,
    exact Jaccard verifies. Output (doc_a, doc_b, n_bands, inter,
    union_n, jacc_key, is_dup).

    The shingle table is materialized ONCE (localCheckpoint) and
    reused by the signature pass, the size aggregate and both sides
    of the intersection join — the lazy plan would otherwise re-run
    the tokenize+shingle scan four times. At sf0.1 that is wall-
    neutral (the scan is cheap next to the joins); the point is the
    100 TB shape, where the tokenize+shingle scan dominates and a
    4x re-read is the difference between one pass over the corpus
    and four."""
    sh0 = shingles_df(docs).withColumn(
        "sh_hash", F.expr(str_hash_sql("spark", "shingle"))
    )
    sh = sh0.localCheckpoint(eager=True)
    aggs = [
        F.min(
            F.expr(f"((2 * {i} + 1) * sh_hash + {i} * {MINHASH_B}) % {HASH_P}")
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    wide = sh.groupBy("doc_id").agg(*aggs)
    n_bands_total = num_hashes // band_rows
    band_exprs = ", ".join(
        f"cast({b} as int), concat_ws(',', "
        + ", ".join(f"mh{b * band_rows + r}" for r in range(band_rows))
        + ")"
        for b in range(n_bands_total)
    )
    bands = wide.selectExpr(
        "doc_id", f"stack({n_bands_total}, {band_exprs}) AS (band, sig)"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, on=["band", "sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa_sh = sh.selectExpr("doc_id AS doc_a", "shingle")
    sb_sh = sh.selectExpr("doc_id AS doc_b", "shingle")
    inter = (
        cand.join(sa_sh, "doc_a")
        .join(sb_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"inter": 0})
        .join(sizes.selectExpr("doc_id AS doc_a", "n_sh AS n_a"), "doc_a")
        .join(sizes.selectExpr("doc_id AS doc_b", "n_sh AS n_b"), "doc_b")
        .withColumn("union_n", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_bands",
            "inter",
            "union_n",
            f"{_jacc_key()} AS jacc_key",
            f"cast(inter * 1000000 >= {min_jacc_ppm} * union_n as int) AS is_dup",
        )
    )


def oracle_minhash_lsh(
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    min_jacc_ppm: int = 200_000,
) -> str:
    return (
        f"WITH sh AS ({_shingles_cte()}), "
        f"shh AS (SELECT doc_id, shingle, {str_hash_sql('duckdb', 'shingle')} "
        f"AS sh_hash FROM sh), "
        f"sigs AS (SELECT doc_id, i, min(((2 * i + 1) * sh_hash + i * {MINHASH_B}) "
        f"% {HASH_P}) AS mh "
        f"FROM shh, range(0, {num_hashes}) t(i) GROUP BY doc_id, i), "
        f"bands AS (SELECT doc_id, cast(i // {band_rows} as int) AS band, "
        f"string_agg(cast(mh as varchar), ',' ORDER BY i) AS sig "
        f"FROM sigs GROUP BY 1, 2), "
        f"cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands "
        f"FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig "
        f"AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        f"sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        f"ij AS (SELECT c.doc_a, c.doc_b, count(sb.shingle) AS inter FROM cand c "
        f"JOIN sh sa ON sa.doc_id = c.doc_a "
        f"LEFT JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle "
        f"GROUP BY 1, 2) "
        f"SELECT c.doc_a, c.doc_b, c.n_bands, ij.inter, "
        f"sa.n_sh + sb.n_sh - ij.inter AS union_n, "
        f"{_jacc_key().replace('union_n', '(sa.n_sh + sb.n_sh - ij.inter)')} AS jacc_key, "
        f"cast(ij.inter * 1000000 >= {min_jacc_ppm} * (sa.n_sh + sb.n_sh - ij.inter) "
        f"as int) AS is_dup "
        f"FROM cand c JOIN ij ON ij.doc_a = c.doc_a AND ij.doc_b = c.doc_b "
        f"JOIN sizes sa ON sa.doc_id = c.doc_a "
        f"JOIN sizes sb ON sb.doc_id = c.doc_b"
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash per document: bit b = sign of the sum over
    distinct-token hashes of +/-1 keyed on hash bit b."""
    th = (
        docs.withColumn("toks", F.expr(tokens_sql("spark")))
        .select(
            "doc_id",
            F.explode(
                F.expr(f"array_distinct({token_hashes_sql('spark', 'toks')})")
            ).alias("th"),
        )
    )
    bi = th.sparkSession.range(bits).selectExpr("cast(id as int) AS b")
    return (
        th.crossJoin(F.broadcast(bi))
        .withColumn(
            "sgn",
            F.expr("CASE WHEN shiftright(th, b) % 2 = 1 THEN 1 ELSE -1 END"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("sgn").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN s >= 0 THEN shiftleft(cast(1 as bigint), b) "
                    "ELSE cast(0 as bigint) END"
                )
            ).alias("simhash")
        )
    )


def oracle_simhash(bits: int = 32) -> str:
    return (
        f"WITH th AS (SELECT doc_id, "
        f"unnest(list_distinct({token_hashes_sql('duckdb', 'toks')})) AS th "
        f"FROM (SELECT doc_id, {tokens_sql('duckdb')} AS toks FROM documents)), "
        f"bitsum AS (SELECT doc_id, b, "
        f"sum(CASE WHEN (th >> b) % 2 = 1 THEN 1 ELSE -1 END) AS s "
        f"FROM th, range(0, {bits}) t(b) GROUP BY 1, 2) "
        f"SELECT doc_id, cast(sum(CASE WHEN s >= 0 THEN 1::BIGINT << b "
        f"ELSE 0 END) as bigint) AS simhash "
        f"FROM bitsum GROUP BY doc_id"
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, found scalably via
    8-bit band equi-join (a pair within hamming<=3 of a 32-bit hash
    shares at least one of 4 bands; wider max_hamming trades recall)."""
    sig = simhash(docs)
    banded = sig.selectExpr(
        "doc_id",
        "simhash",
        "explode(sequence(0, 3)) AS band",
    ).withColumn("bv", F.expr("shiftright(simhash, band * 8) % 256"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band", "bv"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def oracle_simhash_pairs(max_hamming: int = 6, bits: int = 32) -> str:
    base = oracle_simhash(bits)
    return (
        f"WITH sig AS ({base}), "
        f"banded AS (SELECT doc_id, simhash, band, "
        f"(simhash >> (band * 8)) % 256 AS bv FROM sig, range(0, 4) t(band)) "
        f"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming "
        f"FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv "
        f"AND a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )


# ---------------------------------------------------------------------------
# dedup CLUSTERS: the operational output of near-dup detection at
# corpus scale — connected components over the verified MinHash pair
# graph, one canonical keeper per cluster (min doc_id). Pairs alone
# leave transitive duplicates unresolved (a~b, b~c but not a~c);
# clustering + keep-one is what a 100 TB dedup pass actually emits.


def dedup_clusters(docs: DataFrame, **minhash_kwargs) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_keeper): components of
    the is_dup MinHash pair graph (graphsql.label_components);
    singleton docs are their own cluster."""
    from ..graphsql import keepers, label_components

    pairs = (
        minhash_lsh_pairs(docs, **minhash_kwargs)
        .filter("is_dup = 1")
        .selectExpr("doc_a AS a", "doc_b AS b")
    )
    nodes = docs.selectExpr("doc_id AS node")
    return keepers(label_components(nodes, pairs), "doc_id")


def oracle_dedup_clusters(**minhash_kwargs) -> str:
    """Replays the MinHash pair graph, then labels components with the
    shared pointer-jump CTE chain."""
    from ..graphsql import keepers_sql, pj_components_cte

    base = oracle_minhash_lsh(**minhash_kwargs)
    chain, final = pj_components_cte()
    return f"""
WITH dup AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({base}) WHERE is_dup = 1),
nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
links AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM dup
  UNION SELECT doc_b, doc_a FROM dup),
{chain}
{keepers_sql(final, "doc_id")}
"""


# ---------------------------------------------------------------------------
# benchmark decontamination
#
# The standard eval-set contamination check of large-scale training
# pipelines (n-gram overlap against held-out benchmarks, as described
# publicly for GPT-3 appendix C / Llama 2 / Dolma): flag every
# training document sharing at least one distinct word n-gram with
# any benchmark document. Longer shingles than the dedup family
# (CONTAM_N=8 vs 3) so matches mean real reuse, not stopword runs.

CONTAM_N = 8
BENCH_MOD = 97  # deterministic held-out benchmark: doc_id % 97 == 0


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = CONTAM_N
) -> DataFrame:
    """(doc_id, n_sh, n_hit, contam_ppm, is_contaminated) for every
    training doc: distinct-shingle count, how many of them occur in
    the benchmark shingle set, hit rate in ppm, and the flag.

    100 TB shape: the benchmark side is small by construction (eval
    sets are thousands of docs) -> its distinct shingle set
    broadcasts; the corpus-side probe is a map-side broadcast join +
    partial-agg count, so the corpus is read once with no shuffle of
    shingle rows — only the per-doc count aggregation shuffles."""
    bench_sh = shingles_df(benchmark, n).select("shingle").distinct()
    doc_sh = shingles_df(docs, n)
    counts = doc_sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        counts.join(hits, "doc_id", "left")
        .selectExpr(
            "doc_id", "n_sh", "coalesce(n_hit, 0) AS n_hit",
        )
        .selectExpr(
            "doc_id", "n_sh", "n_hit",
            "cast(floor(1000000.0E0 * cast(n_hit as double) "
            "/ cast(n_sh as double)) as bigint) AS contam_ppm",
            "cast(n_hit > 0 as int) AS is_contaminated",
        )
    )


def oracle_decontaminate(n: int = CONTAM_N, bench_mod: int = BENCH_MOD) -> str:
    sh = _shingles_cte(n)
    return (
        f"WITH sh AS ({sh}), "
        f"bench AS (SELECT DISTINCT shingle FROM sh "
        f"WHERE doc_id % {bench_mod} = 0), "
        f"corpus AS (SELECT * FROM sh WHERE doc_id % {bench_mod} <> 0), "
        f"counts AS (SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY 1), "
        f"hits AS (SELECT doc_id, count(*) AS n_hit FROM corpus "
        f"JOIN bench USING (shingle) GROUP BY 1) "
        f"SELECT counts.doc_id, cast(n_sh as bigint) AS n_sh, "
        f"cast(coalesce(n_hit, 0) as bigint) AS n_hit, "
        f"cast(floor(1000000.0E0 * cast(coalesce(n_hit, 0) as double) "
        f"/ cast(n_sh as double)) as bigint) AS contam_ppm, "
        f"cast(coalesce(n_hit, 0) > 0 as int) AS is_contaminated "
        f"FROM counts LEFT JOIN hits ON hits.doc_id = counts.doc_id"
    )


# ---------------------------------------------------------------------------
# exact-substring span dedup (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr criterion over
# token L-grams instead of a suffix array: a token position starts a
# duplicated span iff its L-gram occurs anywhere else in the corpus;
# overlapping/adjacent duplicated L-grams merge into maximal spans)

ES_L = 8


def positioned_grams_sql(dialect: str, L: int = ES_L) -> str:
    """List of {p, g} structs: token position p (0-based) and the
    L-token gram starting there. Expects ``toks`` in scope."""
    if dialect == "spark":
        return (
            f"transform(sequence(0, size(toks) - {L}), "
            f"k -> named_struct('p', cast(k as bigint), "
            f"'g', concat_ws(' ', slice(toks, k + 1, {L}))))"
        )
    return (
        f"list_transform(range(0, len(toks) - {L} + 1), "
        f"k -> {{'p': cast(k as bigint), "
        f"'g': array_to_string(toks[k + 1:k + {L}], ' ')}})"
    )


def exact_substring_spans(docs: DataFrame, L: int = ES_L) -> DataFrame:
    """Maximal duplicated-substring spans per document:
    (doc_id, span_start, span_end, n_grams) with token indices
    inclusive. A position is duplicated iff its L-gram occurs >= 2
    times corpus-wide (any doc, any position — the symmetric
    ExactSubstr criterion); runs of positions whose L-gram windows
    overlap or touch (gap <= L) merge via a per-doc window scan.

    Scale: one shuffle on the gram key for the frequency count +
    semi-join (hot boilerplate grams aggregate, they never pair), one
    shuffle on doc_id for the island scan — no pairwise join anywhere,
    so the plan is linear in corpus size."""
    t = (
        docs.withColumn("toks", F.expr(tokens_sql("spark")))
        .filter(F.expr(f"size(toks) >= {L}"))
    )
    grams = t.select(
        "doc_id", F.explode(F.expr(positioned_grams_sql("spark", L))).alias("u")
    ).select("doc_id", F.col("u.p").alias("p"), F.col("u.g").alias("g"))
    grams = grams.localCheckpoint(eager=True)  # feeds counts AND probe
    dup_g = (
        grams.groupBy("g").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2).select("g")
    )
    dup = grams.join(dup_g, "g").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = (
        dup.withColumn(
            "brk",
            F.when(
                F.coalesce(F.col("p") - F.lag("p").over(w) > L, F.lit(True)),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("p").cast("bigint").alias("span_start"),
        (F.max("p") + (L - 1)).cast("bigint").alias("span_end"),
        F.count("*").cast("bigint").alias("n_grams"),
    ).select("doc_id", "span_start", "span_end", "n_grams")


def oracle_exact_substring_spans(L: int = ES_L) -> str:
    return (
        f"WITH t AS (SELECT doc_id, {tokens_sql('duckdb')} AS toks "
        f"FROM documents), "
        f"g AS MATERIALIZED (SELECT doc_id, u.p AS p, u.g AS g FROM ("
        f"SELECT doc_id, unnest({positioned_grams_sql('duckdb', L)}) AS u "
        f"FROM t WHERE len(toks) >= {L})), "
        f"dup AS (SELECT doc_id, p FROM g WHERE g IN ("
        f"SELECT g FROM g GROUP BY g HAVING count(*) >= 2)), "
        f"brk AS (SELECT doc_id, p, CASE WHEN "
        f"p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > {L} "
        f"OR lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL "
        f"THEN 1 ELSE 0 END AS b FROM dup), "
        f"isl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id "
        f"ORDER BY p ROWS UNBOUNDED PRECEDING) AS island FROM brk) "
        f"SELECT doc_id, cast(min(p) as bigint) AS span_start, "
        f"cast(max(p) + {L - 1} as bigint) AS span_end, "
        f"cast(count(*) as bigint) AS n_grams "
        f"FROM isl GROUP BY doc_id, island"
    )


# ---------------------------------------------------------------------------
# paragraph-level exact dedup (MassiveText / RefinedWeb style): split
# every document into paragraphs, drop every paragraph that already
# occurred anywhere in the corpus (first occurrence in (doc_id,
# position) order wins), and reassemble the cleaned documents. The
# synthetic corpus has no newlines, so the paragraph boundary is
# parameterized as fixed ``chunk_words``-word windows (3 at test
# scale so duplicates actually exist; real corpora pass the
# delimiter-split tokenization instead — the plan is identical).
#
# Scale shape: one shuffle on the chunk text for the global
# first-occurrence window (hot boilerplate chunks aggregate onto one
# key but the window only needs rank 1 — Spark's partial top-1 per
# partition bounds skew), one shuffle on doc_id to reassemble. No
# pairwise join anywhere, so the plan is linear in corpus size.

PARA_CHUNK_WORDS = 3


def _chunks_sql(dialect: str, k: int = PARA_CHUNK_WORDS) -> str:
    toks = tokens_sql(dialect)
    if dialect == "spark":
        n = f"cast(ceil(size({toks}) / {k}.0E0) as int)"
        return (
            f"transform(sequence(0, {n} - 1), "
            f"i -> concat_ws(' ', slice({toks}, i * {k} + 1, {k})))"
        )
    n = f"cast(ceil(len({toks}) / {k}.0E0) as int)"
    return (
        f"list_transform(range(0, {n}), i -> array_to_string("
        f"list_slice({toks}, i * {k} + 1, i * {k} + {k}), ' '))"
    )


def paragraph_dedup(docs: DataFrame, k: int = PARA_CHUNK_WORDS) -> DataFrame:
    """(doc_id, kept_n, dropped_n, clean_md5) — corpus-wide exact
    paragraph dedup; clean_md5 fingerprints the reassembled document
    (kept chunks joined in position order)."""
    t = docs.filter(F.expr("size(" + tokens_sql("spark") + ") >= 1"))
    ch = t.select(
        "doc_id",
        F.posexplode(F.expr(_chunks_sql("spark", k))).alias("pos", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    flagged = ch.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("boolean")
    )
    return flagged.groupBy("doc_id").agg(
        F.sum(F.col("kept").cast("bigint")).alias("kept_n"),
        F.sum((~F.col("kept")).cast("bigint")).alias("dropped_n"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(filter(array_sort(collect_list("
                    "struct(pos, chunk, kept))), x -> x.kept), "
                    "x -> x.chunk)"
                ),
            )
        ).alias("clean_md5"),
    ).select("doc_id", "kept_n", "dropped_n", "clean_md5")


def oracle_paragraph_dedup(k: int = PARA_CHUNK_WORDS) -> str:
    return (
        f"WITH t AS (SELECT doc_id, unnest({_chunks_sql('duckdb', k)}) "
        f"AS chunk, unnest(range(0, cast(ceil("
        f"len({tokens_sql('duckdb')}) / {k}.0E0) as int))) AS pos "
        f"FROM documents WHERE len({tokens_sql('duckdb')}) >= 1), "
        f"f AS (SELECT doc_id, pos, chunk, row_number() OVER "
        f"(PARTITION BY chunk ORDER BY doc_id, pos) = 1 AS kept FROM t) "
        f"SELECT doc_id, "
        f"cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as bigint) AS kept_n, "
        f"cast(sum(CASE WHEN kept THEN 0 ELSE 1 END) as bigint) "
        f"AS dropped_n, "
        f"md5(coalesce(string_agg(CASE WHEN kept THEN chunk END, ' ' "
        f"ORDER BY pos), '')) AS clean_md5 "
        f"FROM f GROUP BY doc_id"
    )


# ---------------------------------------------------------------------------
# distributed Bloom "seen" filter (Bloom 1970; the crawl-frontier /
# URL-seen primitive every large-scale ingest pipeline carries: CCNet
# and RefinedWeb both gate re-crawled URLs through one). The filter is
# a fixed M-bit array stored as an (word_idx -> bits) TABLE of M/32
# rows — independent of corpus size — so the build is one map-side-
# combined bit_or aggregate (the shuffle moves at most M/32 cells per
# partition, never the corpus) and the probe side joins the broadcast
# filter table. No false negatives ever; false positives bounded by
# (1 - e^(-K*n/M))^K.

BLOOM_M_BITS = 1 << 15  # 32768 bits = 1024 x 32-bit words
BLOOM_K = 4
BLOOM_KNUTH = 2_654_435_761
BLOOM_PROBE_N = 128  # probes per side (present / absent)


def _bloom_pos_sql(j: str, kh: str) -> str:
    """Bit position of hash row ``j`` for key hash ``kh`` — affine in
    j mod a prime, then mod M. int64-safe (kh < 1e6)."""
    return (
        f"((({kh}) * (2 * ({j}) + 3) + ({j}) * 7919) % 999983) "
        f"% {BLOOM_M_BITS}"
    )


def _bloom_keyhash_sql(key: str) -> str:
    return f"((({key}) * {BLOOM_KNUTH}) % 1000003)"


def bloom_build(docs: DataFrame, k: int = BLOOM_K) -> DataFrame:
    """(word_idx, bits) — the Bloom filter over doc_id keys as a
    1024-row table. One aggregate, map-side combined to <= M/32 cells
    per partition regardless of corpus size."""
    pos = _bloom_pos_sql("j", _bloom_keyhash_sql("doc_id"))
    return (
        docs.select(
            F.expr(f"explode(sequence(0, {k - 1}))").alias("j"), "doc_id"
        )
        .selectExpr(
            f"cast(({pos}) div 32 as bigint) AS word_idx",
            # shift a BIGINT one: shiftleft(1, 31) in int32 would wrap
            # to the sign bit; with bit <= 31 the bigint value stays
            # positive, so div/% bit tests agree across engines
            f"shiftleft(cast(1 as bigint), cast(({pos}) % 32 as int)) AS v",
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(v)").alias("bits"))
    )


def bloom_seen_filter(
    docs: DataFrame, k: int = BLOOM_K, probe_n: int = BLOOM_PROBE_N
) -> DataFrame:
    """(probe_id, key, truth, bloom_hit): 2*probe_n membership probes
    against the corpus Bloom filter — probe_id < probe_n keys exist in
    the corpus (key = 5*probe_id, the synth doc_id stride), the rest
    are absent (key offset by 10^9). ``truth`` is the exact LEFT-JOIN
    membership; bloom_hit must be 1 wherever truth is 1 (no false
    negatives — pinned in tests), and the false-positive excess is the
    filter's documented epsilon.

    Scale: filter table built once (1024 rows) and broadcast; probes
    are a map-only explode + equi-join on word_idx."""
    spark = docs.sparkSession
    filt = bloom_build(docs, k)
    probes = spark.range(2 * probe_n).selectExpr(
        "id AS probe_id",
        f"cast(CASE WHEN id < {probe_n} THEN id * 5 "
        f"ELSE 1000000000 + id END as bigint) AS key",
    )
    truth = probes.join(
        docs.selectExpr("doc_id AS key", "1 AS present").distinct(),
        "key", "left",
    ).selectExpr("probe_id", "key", "coalesce(present, 0) AS truth")
    pos = _bloom_pos_sql("j", _bloom_keyhash_sql("key"))
    tests = (
        truth.select(
            "probe_id", "key", "truth",
            F.expr(f"explode(sequence(0, {k - 1}))").alias("j"),
        )
        .selectExpr(
            "probe_id", "key", "truth",
            f"cast(({pos}) div 32 as bigint) AS word_idx",
            f"cast(({pos}) % 32 as int) AS bit",
        )
        .join(F.broadcast(filt), "word_idx", "left")
        .selectExpr(
            "probe_id", "key", "truth",
            "cast(coalesce((bits div shiftleft(cast(1 as bigint), bit)) % 2,"
            " 0) as int) AS hit_j",
        )
    )
    return (
        tests.groupBy("probe_id", "key", "truth")
        .agg(F.min("hit_j").alias("bloom_hit"))
        .selectExpr(
            "probe_id", "key", "cast(truth as int) AS truth",
            "cast(bloom_hit as int) AS bloom_hit",
        )
    )


def oracle_bloom_seen_filter(
    k: int = BLOOM_K, probe_n: int = BLOOM_PROBE_N
) -> str:
    pos_b = _bloom_pos_sql("j", _bloom_keyhash_sql("doc_id"))
    pos_p = _bloom_pos_sql("j", _bloom_keyhash_sql("key"))
    return (
        f"WITH cells AS (SELECT cast(({pos_b}) // 32 as bigint) "
        f"AS word_idx, cast(bit_or(cast(1 as bigint) << (({pos_b}) % 32)) "
        f"as bigint) AS bits "
        f"FROM documents, range(0, {k}) r(j) GROUP BY 1), "
        f"probes AS (SELECT id AS probe_id, cast(CASE WHEN "
        f"id < {probe_n} THEN id * 5 ELSE 1000000000 + id END as bigint) "
        f"AS key FROM range(0, {2 * probe_n}) t(id)), "
        f"truth AS (SELECT probe_id, key, CASE WHEN EXISTS (SELECT 1 "
        f"FROM documents d WHERE d.doc_id = probes.key) THEN 1 ELSE 0 END "
        f"AS truth FROM probes), "
        f"tests AS (SELECT probe_id, key, truth, "
        f"cast(({pos_p}) // 32 as bigint) AS word_idx, "
        f"cast(({pos_p}) % 32 as int) AS bit "
        f"FROM truth, range(0, {k}) r(j)) "
        f"SELECT t.probe_id, t.key, cast(t.truth as int) AS truth, "
        f"cast(min(coalesce((c.bits // (cast(1 as bigint) << t.bit)) % 2, "
        f"0)) as int) AS bloom_hit "
        f"FROM tests t LEFT JOIN cells c ON c.word_idx = t.word_idx "
        f"GROUP BY 1, 2, 3"
    )


# ---------------------------------------------------------------------------
# train/eval near-dup leakage audit — the eval-hygiene composition
# (the GPT-3 paper's post-hoc contamination finding made this a
# standard pipeline stage; cf. Brown et al. 2020 appendix C, Dodge et
# al. 2021 C4 audit): after a deterministic train/val/test split,
# near-duplicate PAIRS that straddle the train boundary are exactly
# the leaks that inflate eval scores. Composes the MinHash-LSH
# pair table with the hash split — both already oracle-gated — into
# (pair, split_a, split_b, leak flag); the join adds two broadcast-
# sized lookups against the (tiny) pair table at any corpus size.


def split_leakage(docs: DataFrame, min_jacc_ppm: int = 200_000) -> DataFrame:
    """(doc_a, doc_b, jacc_key, split_a, split_b, is_leak): near-dup
    pairs with their split sides; is_leak = 1 iff exactly one side is
    in train (train->val and train->test leaks both count)."""
    from . import textops

    pairs = minhash_lsh_pairs(docs, min_jacc_ppm=min_jacc_ppm).filter(
        "is_dup = 1"
    )
    sp = textops.dataset_split(docs).select("doc_id", "split")
    return (
        pairs.join(
            sp.selectExpr("doc_id AS doc_a", "split AS split_a"), "doc_a"
        )
        .join(sp.selectExpr("doc_id AS doc_b", "split AS split_b"), "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "jacc_key", "split_a", "split_b",
            "cast((split_a = 'train') <> (split_b = 'train') as int) "
            "AS is_leak",
        )
    )


def oracle_split_leakage(min_jacc_ppm: int = 200_000) -> str:
    from . import textops as _t

    split = (
        f"(SELECT doc_id, CASE WHEN ((doc_id * {_t.SPLIT_KNUTH}) "
        f"% 4294967296) % 100 < 80 THEN 'train' "
        f"WHEN ((doc_id * {_t.SPLIT_KNUTH}) % 4294967296) % 100 < 90 "
        f"THEN 'val' ELSE 'test' END AS split FROM documents)"
    )
    return (
        f"SELECT p.doc_a, p.doc_b, p.jacc_key, "
        f"sa.split AS split_a, sb.split AS split_b, "
        f"cast((sa.split = 'train') <> (sb.split = 'train') as int) "
        f"AS is_leak "
        f"FROM ({oracle_minhash_lsh(min_jacc_ppm=min_jacc_ppm)}) p "
        f"JOIN {split} sa ON sa.doc_id = p.doc_a "
        f"JOIN {split} sb ON sb.doc_id = p.doc_b "
        f"WHERE p.is_dup = 1"
    )
