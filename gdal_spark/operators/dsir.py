"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
feature distribution resembles a target corpus.

Pipeline (the paper's hashed n-gram variant, deterministic top-k
selection):

1. features: unigrams + adjacent bigrams, hashed into ``B`` buckets
   (the shared dual-dialect rolling hash, textops.str_hash_sql);
2. bag-of-words models: Laplace-smoothed bucket probabilities for the
   TARGET slice (here ``lang = 'en'`` — the canonical "select text
   that looks like the target language" framing) and the RAW corpus;
3. per-bucket integer log-ratio key
   ``lr_b = floor(1e9 * (ln(t_b+1) - ln(T+B) - ln(r_b+1) + ln(R+B)))``
   — integer-scaled BEFORE the per-document sum (house rule: never
   hash a raw float aggregate; ln differs ~1 ulp across engines, so
   the scale is applied at the 64-row bucket table where a boundary
   collision is a measure-zero event checked by the parity test, and
   the per-doc reduction is exact int64);
4. per-document importance weight = sum of its grams' bucket keys
   (gram multiplicity = the paper's feature count);
5. deterministic resample: top-k by (weight desc, doc_id).

Scale shape: two corpus scans (a stats pass and a scoring pass — the
two-phase shape is intrinsic, as for k-means); the bucket model is
B=64 rows, broadcast to the scoring join; the per-doc sum is a
partial+final aggregate on doc_id; the top-k is TakeOrdered, never a
global sort. Both asserted in tests/test_plans.py.

Both engines run the SAME generated SQL text modulo dialect
fragments, so the arithmetic parses identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .textops import bigrams_sql, str_hash_sql, tokens_sql

N_BUCKETS = 64
TOP_K = 100
_SCALE = "1000000000.0E0"  # 1e9 integer scale for the log-ratio


def _dsir_sql(dialect: str, docs_rel: str, buckets: int, k: int) -> str:
    d = dialect
    toks = tokens_sql(d)
    bgs = bigrams_sql(d, "toks")
    if d == "spark":
        g_src = (
            "SELECT doc_id, is_t, explode(grams) AS gram FROM "
            "(SELECT doc_id, is_t, grams FROM tb)"
        )
        bucket_rel = f"(SELECT id AS bucket FROM range(0, {buckets}))"
        hint = "/*+ BROADCAST(lr) */ "
    else:
        g_src = "SELECT doc_id, is_t, unnest(grams) AS gram FROM tb"
        bucket_rel = f"(SELECT k AS bucket FROM range(0, {buckets}) t(k))"
        hint = ""
    gram_hash = str_hash_sql(d, "gram")
    lnd = "ln"
    cat_expr = (
        f"concat(toks, {bgs})" if d == "spark" else f"list_concat(toks, {bgs})"
    )
    mt = (
        f"WITH t AS (SELECT doc_id, "
        f"cast(lang = 'en' as bigint) AS is_t, {toks} AS toks "
        f"FROM {docs_rel}), "
        f"tb AS (SELECT doc_id, is_t, {cat_expr} AS grams FROM t), "
    )
    return (
        mt
        + f"g AS (SELECT doc_id, is_t, {gram_hash} % {buckets} AS bucket "
        f"FROM ({g_src})), "
        f"cnt AS (SELECT bucket, cast(count(*) as bigint) AS rc, "
        f"cast(sum(is_t) as bigint) AS tc FROM g GROUP BY bucket), "
        f"filled AS (SELECT b.bucket, coalesce(cnt.rc, 0) AS rc, "
        f"coalesce(cnt.tc, 0) AS tc FROM {bucket_rel} b "
        f"LEFT JOIN cnt ON b.bucket = cnt.bucket), "
        f"tot AS (SELECT bucket, rc, tc, "
        f"cast(sum(rc) OVER () as bigint) AS rtot, "
        f"cast(sum(tc) OVER () as bigint) AS ttot FROM filled), "
        f"lr AS (SELECT bucket, cast(floor({_SCALE} * ("
        f"{lnd}(cast(tc + 1 as double)) - "
        f"{lnd}(cast(ttot + {buckets} as double)) - "
        f"{lnd}(cast(rc + 1 as double)) + "
        f"{lnd}(cast(rtot + {buckets} as double)))) as bigint) AS lrk "
        f"FROM tot), "
        f"score AS (SELECT {hint}g.doc_id, "
        f"cast(sum(lr.lrk) as bigint) AS weight_key "
        f"FROM g JOIN lr ON g.bucket = lr.bucket GROUP BY g.doc_id) "
        f"SELECT doc_id, weight_key FROM score "
        f"ORDER BY weight_key DESC, doc_id LIMIT {k}"
    )


def dsir_select(
    docs: DataFrame,
    buckets: int = N_BUCKETS,
    k: int = TOP_K,
) -> DataFrame:
    """(doc_id, weight_key): the top-k documents by DSIR hashed-n-gram
    importance weight toward the ``lang = 'en'`` target slice."""
    spark = docs.sparkSession
    docs.select("doc_id", "lang", "text").createOrReplaceTempView(
        "dsir_docs_in"
    )
    return spark.sql(_dsir_sql("spark", "dsir_docs_in", buckets, k))


def oracle_dsir(buckets: int = N_BUCKETS, k: int = TOP_K) -> str:
    return _dsir_sql("duckdb", "documents", buckets, k)
