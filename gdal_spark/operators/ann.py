"""Similarity search and curation over embedding columns (array<float>).

Thirteen stages over the ``embeddings`` table (vec_id, embedding
float[64], label):

- **exact top-k** — ``cosine_topk`` (brute force against broadcast
  query vectors; the correctness baseline) and ``hard_negatives`` (the
  same scan with an anti-label predicate).
- **approximate top-k, exact re-rank** — ``ann_lsh_topk``
  (random-hyperplane LSH bucket collisions), ``ann_ivf_topk`` (k-means
  coarse quantizer, probed clusters) and ``ann_rerank_topk``
  (dimension-prefix shortlist).
- **quantized top-k** — ``pq_topk``, ``ivfpq_topk`` and ``sq8_topk``
  rank by integer asymmetric distances over compressed codes.
- **near duplicates** — ``embedding_neardup`` (LSH candidates),
  ``embedding_neardup_exact`` (all pairs) and ``semdedup`` (within
  k-means clusters).
- **corpus statistics** — ``embedding_gram`` (one Gram partial per
  Arrow batch, the module's one ``mapInPandas``) and ``pca_pc1``
  (driver-side integer power iteration over that Gram matrix).

Each decision has one definition per dialect, shared by the Spark
stages and the DuckDB oracles: the ranking ``_top_k`` / ``_top_k_sql``
(one numbered window per partition, ties broken by the order's
last column), the exact cosine of a pair frame ``_cosine`` /
``_cosine_sql`` and the Lloyd k-means chain ``_lloyd`` /
``_lloyd_ctes``. Sizes are module constants read at call time, so
every stage takes only its input frame and every oracle no argument.

Numeric contract: embeddings are scaled to integers (floor(x*1e6)) so
every dot product is integer-exact and order-independent; the final
cosine is a fixed sequence of correctly-rounded IEEE double ops, so
Spark and the DuckDB oracle agree bit-for-bit on the floor-scaled
``cos_key``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SCALE = 1_000_000
DIM = 64
TOP_K = 5
N_QUERIES = 32
LSH_TABLES = 8
LSH_PLANES = 4
MIN_COS_PPM = 350_000  # near-duplicate threshold: cosine >= 0.35

BY_COS = ("cos_key DESC", "vec_id")
BY_ADC = ("adc", "vec_id")


def scaled_vec_sql(dialect: str, scale: int = SCALE) -> str:
    """The ``embedding`` column floor-scaled to a bigint vector."""
    lam = f"x -> cast(floor(cast(x as double) * {scale}.0E0) as bigint)"
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}(embedding, {lam})"


def dot_sql(dialect: str, a: str, b: str) -> str:
    """Integer dot product of two scaled bigint vectors."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"cast(0 as bigint), (acc, x) -> acc + x)"
        )
    return f"cast(list_dot_product({a}, {b}) as bigint)"


def cos_key_sql() -> str:
    """floor(1e6 * dot / (|a| |b|)) — dialect-neutral; expects dot,
    na, nb (self-dots) in scope."""
    return (
        "cast(floor(1000000.0E0 * cast(dot as double) / "
        "(sqrt(cast(na as double)) * sqrt(cast(nb as double)))) as bigint)"
    )


def _top_k(df: DataFrame, part, order, k: int) -> DataFrame:
    """The first ``k`` rows of each ``part`` group under ``order`` (SQL
    sort items such as ``"cos_key DESC"``), numbered in an int
    ``rank`` column: one numbered window plus a filter.
    ``_top_k_sql`` is the same ranking in DuckDB, so both engines
    break ties the same way."""
    win = Window.partitionBy(*part).orderBy(*(
        F.desc(o[: -len(" DESC")]) if o.endswith(" DESC") else F.col(o)
        for o in order
    ))
    return df.withColumn("rank", F.row_number().over(win)).filter(
        F.col("rank") <= k
    )


def _top_k_sql(src: str, part, order, k: int) -> str:
    return (
        f"SELECT * FROM (SELECT *, cast(row_number() OVER (PARTITION BY "
        f"{', '.join(part)} ORDER BY {', '.join(order)}) as int) AS rank "
        f"FROM {src}) WHERE rank <= {k}"
    )


def _ranked(scored: DataFrame, order=BY_COS) -> DataFrame:
    """The TOP_K rows per qid of a (qid, vec_id, key) frame, ``order``
    leading with the key: (qid, rank, vec_id, key)."""
    key = order[0].split()[0]
    return _top_k(scored, ["qid"], order, TOP_K).select(
        "qid", "rank", "vec_id", key
    )


def _ranked_sql(ctes, order=BY_COS) -> str:
    """``_ranked`` over the last of ``ctes``, named ``scored``."""
    key = order[0].split()[0]
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT qid, rank, vec_id, {key} FROM "
        f"({_top_k_sql('scored', ['qid'], order, TOP_K)})"
    )


def _scaled(emb: DataFrame, scale: int = SCALE) -> DataFrame:
    return emb.selectExpr("vec_id", f"{scaled_vec_sql('spark', scale)} AS vs")


def _scaled_cte(scale: int = SCALE) -> str:
    return f"SELECT vec_id, {scaled_vec_sql('duckdb', scale)} AS vs FROM embeddings"


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, vs, norm2): scaled int vector + self-dot."""
    return _scaled(emb).selectExpr(
        "vec_id", "vs", f"{dot_sql('spark', 'vs', 'vs')} AS norm2"
    )


def _vectors_cte() -> str:
    return (
        f"SELECT vec_id, vs, {dot_sql('duckdb', 'vs', 'vs')} AS na FROM "
        f"({_scaled_cte()})"
    )


# ---------------------------------------------------------------------------
# exact cosine of a pair frame


def _side(v: DataFrame, key: str, s: str) -> DataFrame:
    """One side of a pair frame: id ``key``, vector ``v{s}``, self-dot
    ``n{s}`` and, when ``v`` carries a ``vp`` prefix column, ``p{s}``."""
    return v.withColumnsRenamed(
        {"vec_id": key, "vs": f"v{s}", "norm2": f"n{s}", "vp": f"p{s}"}
    )


def _cosine(pairs: DataFrame, *cols: str) -> DataFrame:
    """Exact cosine of a pair frame carrying both sides' vectors
    (va, vb) and self-dots (na, nb): ``cols`` + cos_key."""
    return pairs.selectExpr(
        *cols, "na", "nb", f"{dot_sql('spark', 'va', 'vb')} AS dot"
    ).selectExpr(*cols, f"{cos_key_sql()} AS cos_key")


def _cosine_sql(cols: str, pairs: str) -> str:
    """``_cosine`` in DuckDB: ``pairs`` is a FROM clause binding two
    rows ``a`` and ``b`` of the ``v`` CTE (``_vectors_cte``)."""
    return (
        f"SELECT * EXCLUDE (na, nb, dot), {cos_key_sql()} AS cos_key FROM ("
        f"SELECT {cols}, a.na AS na, b.na AS nb, "
        f"{dot_sql('duckdb', 'a.vs', 'b.vs')} AS dot FROM {pairs})"
    )


def _query_pairs(v: DataFrame, cond: str) -> DataFrame:
    """Every corpus vector (vec_id, vb, nb) of a ``_vectors`` frame
    against the broadcast N_QUERIES query vectors (qid, va, na) that
    satisfy ``cond``."""
    q = _side(v.filter(F.col("vec_id") < N_QUERIES), "qid", "a")
    return _side(v, "vec_id", "b").join(F.broadcast(q), F.expr(cond))


def _exact_topk(emb: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact cosine re-rank of a (qid, vec_id) candidate frame."""
    v = _vectors(emb)
    pairs = cand.join(F.broadcast(_side(v, "qid", "a")), "qid").join(
        _side(v, "vec_id", "b"), "vec_id"
    )
    return _ranked(_cosine(pairs, "qid", "vec_id"))


# the candidate CTE ``cand`` (qid, vec_id) bound to its two vectors
_CAND_PAIRS = (
    "cand JOIN v a ON a.vec_id = cand.qid JOIN v b ON b.vec_id = cand.vec_id"
)


def _cos_topk_sql(ctes, pairs: str) -> str:
    """``_ranked`` by exact cosine in DuckDB: the ``v`` CTE, then
    ``ctes``, then the cosine of ``pairs`` (see ``_cosine_sql``)."""
    scored = _cosine_sql("a.vec_id AS qid, b.vec_id", pairs)
    return _ranked_sql(
        [f"v AS MATERIALIZED ({_vectors_cte()})", *ctes, f"scored AS ({scored})"]
    )


# ---------------------------------------------------------------------------
# exact brute-force top-k


def cosine_topk(emb: DataFrame) -> DataFrame:
    """Exact cosine top-k: (qid, rank, vec_id, cos_key). Query side is
    tiny -> broadcast; vec_id breaks ties."""
    pairs = _query_pairs(_vectors(emb), "vec_id != qid")
    return _ranked(_cosine(pairs, "qid", "vec_id"))


def oracle_cosine_topk() -> str:
    return _cos_topk_sql(
        [], f"v a JOIN v b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id"
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the 100 TB path)


def _plane_sign_sql() -> str:
    """Deterministic pseudo-random +/-1 for (table t, plane j, dim d):
    quadratic-residue mixing, integer-exact in both engines."""
    m = "((t * 1009 + j * 101 + d * 13) % 509)"
    return f"(CASE WHEN (({m} * {m}) % 127) % 2 = 0 THEN 1 ELSE -1 END)"


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, t, bucket): sign-bit bucket of each vector in each of
    the LSH_TABLES hash tables of LSH_PLANES planes. Explode over
    (table, plane), two tree aggregations — all map-side combinable."""
    v = _scaled(emb)
    # fan out over (table, plane) with explode(sequence(...)): map-only
    # (no join nodes at all), unlike a crossJoin which compiles to
    # BroadcastNestedLoopJoin. The per-plane dot against the sign
    # pattern is a zip_with fold, NOT a per-dim explode + element_at:
    # Catalyst inlines the vs projection into consumers and CSE does
    # not reach inside lambdas, so element_at per exploded dim row
    # re-evaluated the whole scaled-vector transform DIM times per
    # term (and the dim explode itself was a 64x row fan-out feeding
    # an extra shuffle).
    sign = _plane_sign_sql()
    terms = (
        v.selectExpr(
            "vec_id", "vs",
            f"explode(sequence(0, {LSH_TABLES * LSH_PLANES - 1})) AS tp",
        )
        .selectExpr(
            "vec_id", "vs",
            f"cast(tp div {LSH_PLANES} as bigint) AS t",
            f"cast(tp % {LSH_PLANES} as bigint) AS j",
        )
        .selectExpr(
            "vec_id", "t", "j",
            f"aggregate(zip_with(vs, "
            f"transform(sequence(0, {DIM - 1}), d -> {sign}), "
            f"(x, s) -> x * s), cast(0 as bigint), (acc, x) -> acc + x) "
            f"AS tsum",
        )
    )
    bits = terms.selectExpr(
        "vec_id", "t", "j", "cast(tsum >= 0 as bigint) AS bit"
    )
    return bits.groupBy("vec_id", "t").agg(
        F.expr("sum(shiftleft(bit, cast(j as int))) AS bucket")
    )


def _bucket_ctes() -> list[str]:
    """``lsh_buckets`` in DuckDB over the ``v`` CTE: terms -> bits ->
    buckets (vec_id, t, bucket)."""
    sign = _plane_sign_sql()
    return [
        f"terms AS (SELECT vec_id, t, j, vs[cast(d + 1 as int)] * {sign} AS term "
        f"FROM v, range(0, {LSH_TABLES}) tt(t), range(0, {LSH_PLANES}) tj(j), "
        f"range(0, {DIM}) td(d))",
        "bits AS (SELECT vec_id, t, j, cast(sum(term) >= 0 as bigint) AS bit "
        "FROM terms GROUP BY 1, 2, 3)",
        "buckets AS (SELECT vec_id, t, cast(sum(bit << cast(j as int)) as bigint) "
        "AS bucket FROM bits GROUP BY 1, 2)",
    ]


def ann_lsh_topk(emb: DataFrame) -> DataFrame:
    """Approximate top-k: candidates from bucket collisions (any
    table), exact re-rank. Same schema as cosine_topk; recall vs the
    exact path is asserted in tests."""
    b = lsh_buckets(emb)
    qb = b.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS qid", "t", "bucket"
    )
    cand = (
        b.join(F.broadcast(qb), ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
    )
    return _exact_topk(emb, cand)


def oracle_ann_lsh_topk() -> str:
    return _cos_topk_sql(
        [
            *_bucket_ctes(),
            f"cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id FROM buckets q "
            f"JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket "
            f"AND q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id)",
        ],
        _CAND_PAIRS,
    )


# ---------------------------------------------------------------------------
# Lloyd k-means: the IVF coarse quantizer and the PQ codebooks
#
# The centroid arithmetic is kept integer-exact so the oracle can
# replay it: vectors are scaled to ints at IVF_SCALE; a centroid is
# represented as (component sums S, count n); the distance comparison
# ||v - S/n||^2 is evaluated as ||n*v - S||^2 (scaled by n^2, order-
# free integer arithmetic). Lloyd iterations are fixed with
# deterministic init (the first K vectors by vec_id) — fully
# deterministic, no RNG, reproducible in SQL.

IVF_SCALE = 10_000
IVF_K = 8
IVF_ITERS = 2
IVF_PROBES = 2


def _sqdist_num_sql(dialect: str, v: str, s: str, n: str, dim: int = DIM) -> str:
    """Integer numerator ||n*v - S||^2 — an order-free integer fold.
    Within one cluster (shared S, n) it orders identically to the true
    squared distance, so within-cluster comparisons stay pure-integer."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({v}, {s}, (x, y) -> ({n} * x - y) * ({n} * x - y)), "
            f"cast(0 as bigint), (acc, x) -> acc + x)"
        )
    return (
        f"cast(list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> ({n} * {v}[i] - {s}[i]) * ({n} * {v}[i] - {s}[i]))) as bigint)"
    )


def _sqdist_scaled_sql(dialect: str, v: str, s: str, n: str, dim: int = DIM) -> str:
    """||v - S/n||^2 = ||n*v - S||^2 / n^2: the numerator is an
    order-free integer fold; the single final division is a
    correctly-rounded double op, identical cross-engine (comparable
    across clusters of different sizes)."""
    num = _sqdist_num_sql(dialect, v, s, n, dim)
    return f"(cast({num} as double) / (cast({n} as double) * cast({n} as double)))"


def _vec_sum_sql(col: str, dim: int) -> str:
    """Element-wise sum aggregate of array columns (``dim`` wide —
    zip_with pads the SHORTER side with nulls, so a wrong width
    silently nulls the whole fold)."""
    return (
        f"aggregate(collect_list({col}), "
        f"transform(sequence(1, {dim}), d -> cast(0 as bigint)), "
        f"(acc, v) -> zip_with(acc, v, (a, b) -> a + b))"
    )


def _round_sql(dialect: str) -> str:
    """A centroid (S, n) rounded to integers, floor(S_d / n): the
    stored form of a PQ codebook entry or an IVF-PQ coarse centroid."""
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}(s, x -> cast(floor(cast(x as double) / n) as bigint))"


def _lloyd(v: DataFrame, keys, dim: int, n_clusters: int, iters: int):
    """Fixed Lloyd rounds over (vec_id, *keys, vs) integer vectors,
    one k-means per ``keys`` group, seeded from the first
    ``n_clusters`` vec_ids. Returns (assigned: vec_id, *keys, vs, cid
    from the last round; centroids: *keys, cid, s, n and the rounded
    c)."""
    cents = v.filter(F.col("vec_id") < n_clusters).selectExpr(
        *keys, "vec_id AS cid", "vs AS s", "cast(1 as bigint) AS n"
    )
    for _ in range(iters):
        b = F.broadcast(cents)
        scored = (v.join(b, list(keys)) if keys else v.crossJoin(b)).selectExpr(
            "vec_id", *keys, "vs", "cid",
            f"{_sqdist_scaled_sql('spark', 'vs', 's', 'n')} AS d",
        )
        assigned = _top_k(scored, ["vec_id", *keys], ("d", "cid"), 1).select(
            "vec_id", *keys, "vs", "cid"
        )
        # truncate lineage per Lloyd round: each iteration's centroid
        # table is tiny (K rows) but otherwise re-embeds the whole
        # previous round's plan into the next broadcast
        cents = assigned.groupBy(*keys, "cid").agg(
            F.expr(_vec_sum_sql("vs", dim)).alias("s"),
            F.count("*").alias("n"),
        ).localCheckpoint(eager=True)
    return assigned, cents.withColumn("c", F.expr(_round_sql("spark")))


def _lloyd_ctes(src: str, keys, dim: int, n_clusters: int, iters: int, name: str):
    """``_lloyd`` as a MATERIALIZED DuckDB chain over the CTE ``src``
    (vec_id, *keys, vs) — DuckDB 1.0 inlines plain CTEs, so an unrolled
    chain would re-expand per reference. Returns (ctes, the last
    assignment CTE); the centroids are the CTE ``name``."""
    kc = "".join(f"{k}, " for k in keys)
    kv = "".join(f"v.{k}, " for k in keys)
    on = " AND ".join(f"c.{k} = v.{k}" for k in keys) or "true"
    d = _sqdist_scaled_sql("duckdb", "v.vs", "c.s", "c.n", dim)
    ctes = [
        f"{name}_c0 AS MATERIALIZED (SELECT {kc}vec_id AS cid, vs AS s, "
        f"cast(1 as bigint) AS n FROM {src} WHERE vec_id < {n_clusters})"
    ]
    for it in range(iters):
        a, c, prev = f"{name}_a{it}", f"{name}_c{it + 1}", f"{name}_c{it}"
        scored = (
            f"(SELECT v.vec_id, {kv}v.vs, c.cid, {d} AS d "
            f"FROM {src} v JOIN {prev} c ON {on})"
        )
        ctes.append(
            f"{a} AS MATERIALIZED (SELECT vec_id, {kc}vs, cid FROM "
            f"({_top_k_sql(scored, ['vec_id', *keys], ('d', 'cid'), 1)}))"
        )
        # element-wise integer sum of assigned vectors per cluster
        # (count per (cid, dim) group == member count)
        ctes.append(
            f"{c} AS MATERIALIZED (SELECT {kc}cid, list(sv ORDER BY dim) AS s, "
            f"any_value(nn) AS n FROM (SELECT {kc}cid, dim, "
            f"cast(sum(vs[dim]) as bigint) AS sv, count(*) AS nn "
            f"FROM {a}, range(1, {dim} + 1) t(dim) GROUP BY {kc}cid, dim) "
            f"GROUP BY {kc}cid)"
        )
    ctes.append(
        f"{name} AS MATERIALIZED (SELECT *, {_round_sql('duckdb')} AS c "
        f"FROM {name}_c{iters})"
    )
    return ctes, f"{name}_a{iters - 1}"


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed clusters


def _coarse(emb: DataFrame):
    """The IVF coarse quantizer: ``_lloyd`` over IVF-scaled vectors."""
    return _lloyd(_scaled(emb, IVF_SCALE), (), DIM, IVF_K, IVF_ITERS)


def _ivf_ctes():
    """``_coarse`` in DuckDB: ``iv`` (IVF-scaled vectors) + the Lloyd
    chain (centroids ``ivf``); returns (ctes, final assignment CTE)."""
    ctes, a = _lloyd_ctes("iv", (), DIM, IVF_K, IVF_ITERS, "ivf")
    return [f"iv AS MATERIALIZED ({_scaled_cte(IVF_SCALE)})", *ctes], a


def _probe(q: DataFrame, cents: DataFrame) -> DataFrame:
    """The IVF_PROBES nearest coarse centroids of each query (qid, qv):
    (qid, cid)."""
    scored = q.crossJoin(F.broadcast(cents)).selectExpr(
        "qid", "cid", f"{_sqdist_scaled_sql('spark', 'qv', 's', 'n')} AS d"
    )
    return _top_k(scored, ["qid"], ("d", "cid"), IVF_PROBES).select("qid", "cid")


def _probe_cte() -> str:
    d = _sqdist_scaled_sql("duckdb", "q.vs", "c.s", "c.n")
    scored = (
        f"(SELECT q.vec_id AS qid, c.cid, {d} AS d FROM iv q, ivf c "
        f"WHERE q.vec_id < {N_QUERIES})"
    )
    return (
        f"probe AS MATERIALIZED (SELECT qid, cid FROM "
        f"({_top_k_sql(scored, ['qid'], ('d', 'cid'), IVF_PROBES)}))"
    )


def ann_ivf_topk(emb: DataFrame) -> DataFrame:
    """IVF ANN: assign vectors to k-means clusters, probe each
    query's IVF_PROBES nearest centroids, exact cosine re-rank within
    the probed clusters. Same schema as cosine_topk."""
    assigned, cents = _coarse(emb)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS qid", "vs AS qv"
    )
    cand = (
        _probe(q, cents)
        .join(assigned.select("vec_id", "cid"), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
    )
    return _exact_topk(emb, cand)


def oracle_ann_ivf_topk() -> str:
    ctes, a = _ivf_ctes()
    return _cos_topk_sql(
        [
            *ctes,
            _probe_cte(),
            f"cand AS (SELECT DISTINCT probe.qid, a.vec_id "
            f"FROM probe JOIN {a} a ON a.cid = probe.cid "
            f"AND a.vec_id <> probe.qid)",
        ],
        _CAND_PAIRS,
    )


# ---------------------------------------------------------------------------
# cosine near-duplicate pairs


def _neardup(pairs: DataFrame) -> DataFrame:
    return _cosine(pairs, "vec_a", "vec_b").filter(
        F.col("cos_key") >= MIN_COS_PPM
    )


def _neardup_sql(ctes, pairs: str) -> str:
    scored = _cosine_sql("a.vec_id AS vec_a, b.vec_id AS vec_b", pairs)
    return (
        "WITH " + ", ".join([f"v AS ({_vectors_cte()})", *ctes])
        + f" SELECT * FROM ({scored}) WHERE cos_key >= {MIN_COS_PPM}"
    )


def embedding_neardup(emb: DataFrame) -> DataFrame:
    """Near-duplicate pairs with cosine >= MIN_COS_PPM:
    (vec_a, vec_b, cos_key). Candidate pairs come from LSH bucket
    collisions (same (table, bucket) in any of the LSH_TABLES hash
    tables) — a self-equi-join on the bucket key, never an all-pairs
    cross join — then an exact cosine verify. Recall < 1 by LSH design
    (~0.7 at the default threshold, recall-tested); the oracle replays
    the identical bucket assignment, so the contract is deterministic.
    """
    b = lsh_buckets(emb)
    l = b.selectExpr("vec_id AS vec_a", "t", "bucket")
    r = b.selectExpr("vec_id AS vec_b", "t", "bucket")
    cand = (
        l.join(r, ["t", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    v = _vectors(emb)
    return _neardup(
        cand.join(_side(v, "vec_a", "a"), "vec_a").join(_side(v, "vec_b", "b"), "vec_b")
    )


def embedding_neardup_exact(emb: DataFrame) -> DataFrame:
    """Exhaustive all-pairs variant (recall baseline for tests —
    O(n^2), never the scale path)."""
    v = _vectors(emb)
    return _neardup(
        _side(v, "vec_a", "a").join(
            _side(v, "vec_b", "b"), F.col("vec_a") < F.col("vec_b")
        )
    )


def oracle_embedding_neardup_exact() -> str:
    """All-pairs cosine >= threshold (mirrors embedding_neardup_exact
    — the default small-scale semantics; the _lsh variant is the
    recall<1 scale path, named so the tradeoff is visible)."""
    return _neardup_sql([], "v a JOIN v b ON a.vec_id < b.vec_id")


def oracle_embedding_neardup() -> str:
    """Replays the LSH-bucketed candidate generation + exact verify."""
    return _neardup_sql(
        [
            *_bucket_ctes(),
            "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b "
            "FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket "
            "AND a.vec_id < b.vec_id)",
        ],
        "cand JOIN v a ON a.vec_id = cand.vec_a JOIN v b ON b.vec_id = cand.vec_b",
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the compressed 100 TB path
#
# Jegou, Douze, Schmid (2011), "Product Quantization for Nearest
# Neighbor Search": split each vector into M subvectors, k-means each
# subspace into K centroids, store vectors as M one-byte codes, and
# rank candidates with an asymmetric-distance (ADC) lookup table —
# the query stays exact, candidates are reconstructed from the
# codebooks. A 64-dim float vector becomes 8 codes: 32x compression,
# which is what makes a 10^12-vector index fit a cluster at all.
#
# Numeric contract: subvector k-means runs on floor-scaled integers
# with the exact-rational centroid trick above, then codebook
# centroids are ROUNDED to integers (floor(S_d / n) — faithful to PQ,
# which stores quantized codebooks). From there every distance
# (encode-time vector-to-centroid, query-time ADC) is an exact
# integer sum, so the oracle replays bit-for-bit with no epsilon.

PQ_M = 8        # subspaces (production: 8-16 with K=256 codebooks;
PQ_K = 16       # kept at K=16 here so the oracle's Lloyd replay
PQ_ITERS = 2    # stays cheap at sf0.01)


def _subvectors(df: DataFrame, *keys: str) -> DataFrame:
    """Split each ``vs`` into PQ_M subvectors of DIM // PQ_M dims:
    ``keys`` + (m, vs)."""
    sub = DIM // PQ_M
    return df.selectExpr(
        *keys, f"explode(sequence(0, {PQ_M - 1})) AS m", "vs"
    ).selectExpr(*keys, "m", f"slice(vs, m * {sub} + 1, {sub}) AS vs")


def _subvectors_sql(src: str, keys: str) -> str:
    sub = DIM // PQ_M
    return (
        f"SELECT {keys}, m, list_transform(range(1, {sub} + 1), "
        f"i -> s.vs[m * {sub} + i]) AS vs "
        f"FROM {src} s, range(0, {PQ_M}) mm(m)"
    )


def _residual_sql(dialect: str, a: str, b: str) -> str:
    """Element-wise integer difference a - b of two DIM vectors."""
    if dialect == "spark":
        return f"zip_with({a}, {b}, (x, y) -> x - y)"
    return f"list_transform(range(1, {DIM} + 1), i -> {a}[i] - {b}[i])"


def _pq_d2_sql(dialect: str, a: str, b: str) -> str:
    """Exact integer squared L2 between two bigint subvectors."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"cast(0 as bigint), (acc, x) -> acc + x)"
        )
    return (
        f"cast(list_sum(list_transform(range(1, {DIM // PQ_M} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) as bigint)"
    )


def _codebooks(sv: DataFrame) -> DataFrame:
    """(m, cid, c[DIM // PQ_M]): the rounded per-subspace Lloyd centroids
    of a (vec_id, m, vs) subvector frame."""
    _, cents = _lloyd(sv, ("m",), DIM // PQ_M, PQ_K, PQ_ITERS)
    return cents.select("m", "cid", "c")


def pq_codebooks(emb: DataFrame):
    """Train per-subspace codebooks; returns (subvectors (vec_id, m,
    vs), codebooks (m, cid, c[DIM // PQ_M] integer centroid))."""
    sv = _subvectors(_scaled(emb, IVF_SCALE), "vec_id").localCheckpoint(eager=True)
    return sv, _codebooks(sv)


def pq_codes(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode: (vec_id, m, code) — argmin centroid per subspace.
    Map-only against the broadcast codebooks (the plan that encodes
    10^12 vectors without a shuffle)."""
    scored = sv.join(F.broadcast(cb), "m").selectExpr(
        "vec_id", "m", "cid", f"{_pq_d2_sql('spark', 'vs', 'c')} AS d"
    )
    return _top_k(scored, ["vec_id", "m"], ("d", "cid"), 1).selectExpr(
        "vec_id", "m", "cid AS code"
    )


def _pq_ctes(src: str) -> list[str]:
    """``pq_codebooks`` (centroids ``pq``) over the subvector CTE
    ``src`` (vec_id, m, vs), then ``pq_codes`` as ``codes``."""
    ctes, _ = _lloyd_ctes(src, ("m",), DIM // PQ_M, PQ_K, PQ_ITERS, "pq")
    scored = (
        f"(SELECT s.vec_id, s.m, pq.cid AS code, "
        f"{_pq_d2_sql('duckdb', 's.vs', 'pq.c')} AS d "
        f"FROM {src} s JOIN pq ON pq.m = s.m)"
    )
    return [
        *ctes,
        f"codes AS MATERIALIZED (SELECT vec_id, m, code FROM "
        f"({_top_k_sql(scored, ['vec_id', 'm'], ('d', 'code'), 1)}))",
    ]


def _lut(q: DataFrame, cb: DataFrame, *keys: str) -> DataFrame:
    """ADC lookup table: ``keys`` + (m, code, d), d the exact squared
    L2 from query subvector ``vs`` to codebook entry ``code``."""
    return q.join(cb.withColumnRenamed("cid", "code"), "m").selectExpr(
        *keys, "m", "code", f"{_pq_d2_sql('spark', 'vs', 'c')} AS d"
    )


def _lut_sql(q: str, keys: str) -> str:
    return (
        f"lut AS MATERIALIZED (SELECT {keys}, q.m, pq.cid AS code, "
        f"{_pq_d2_sql('duckdb', 'q.vs', 'pq.c')} AS d "
        f"FROM {q} q JOIN pq ON pq.m = q.m)"
    )


def pq_topk(emb: DataFrame) -> DataFrame:
    """PQ-ADC top-k: (qid, rank, vec_id, adc) with adc the exact
    integer asymmetric distance. Query subvectors stay exact; the
    per-query lookup table (N_QUERIES x PQ_M x PQ_K rows) broadcasts,
    codes join it map-side, and the only shuffle is the partial-agg
    sum over PQ_M rows per (qid, vec_id)."""
    sv, cb = pq_codebooks(emb)
    codes = pq_codes(sv, cb)
    q = sv.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed("vec_id", "qid")
    scored = (
        codes.join(F.broadcast(_lut(q, cb, "qid")), ["m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").alias("adc"))
    )
    return _ranked(scored, BY_ADC)


def oracle_pq_topk() -> str:
    """Replays training (the materialized Lloyd chain), rounded
    codebooks, encoding and ADC."""
    return _ranked_sql(
        [
            f"sv AS MATERIALIZED "
            f"({_subvectors_sql(f'({_scaled_cte(IVF_SCALE)})', 'vec_id')})",
            *_pq_ctes("sv"),
            _lut_sql(
                f"(SELECT vec_id AS qid, m, vs FROM sv WHERE vec_id < {N_QUERIES})",
                "q.qid",
            ),
            "scored AS (SELECT lut.qid, codes.vec_id, "
            "cast(sum(lut.d) as bigint) AS adc "
            "FROM codes JOIN lut ON lut.m = codes.m AND lut.code = codes.code "
            "AND codes.vec_id <> lut.qid GROUP BY 1, 2)",
        ],
        BY_ADC,
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the composed production index (coarse inverted lists +
# residual product quantization, Jegou et al. 2011 §IV): probe the
# query's nearest coarse clusters, rank their members by ADC over
# RESIDUALS (vector minus its cluster's rounded centroid). Residuals
# against integer-rounded coarse centroids stay exact integers, so
# the whole composition keeps the bit-exact oracle property.


def ivfpq_topk(emb: DataFrame) -> DataFrame:
    """(qid, rank, vec_id, adc): top-k by integer residual-ADC within
    the probed coarse clusters. Scale shape: coarse centroids and PQ
    codebooks broadcast; encode is map-only; the probe-side candidate
    join is an equi-join on cid; the ADC sum map-side combines."""
    assigned, cents = _coarse(emb)
    assigned = assigned.localCheckpoint(eager=True)
    ccent = cents.select("cid", "c")
    res = assigned.join(F.broadcast(ccent), "cid").selectExpr(
        "vec_id", "cid", f"{_residual_sql('spark', 'vs', 'c')} AS vs"
    )
    rsv = _subvectors(res, "vec_id", "cid").localCheckpoint(eager=True)
    sv = rsv.select("vec_id", "m", "vs")
    cb = _codebooks(sv)
    codes = pq_codes(sv, cb)
    # coarse probe (same rational-centroid distances as ann_ivf_topk)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS qid", "vs AS qv"
    )
    probe = _probe(q, cents)
    # per-(query, probed-cluster) residual LUT
    qres = (
        probe.join(q, "qid")
        .join(F.broadcast(ccent), "cid")
        .selectExpr("qid", "cid", f"{_residual_sql('spark', 'qv', 'c')} AS vs")
    )
    lut = _lut(_subvectors(qres, "qid", "cid"), cb, "qid", "cid")
    cand = (
        probe.join(assigned.select("vec_id", "cid"), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "cid", "vec_id")
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["qid", "cid", "m", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").alias("adc"))
    )
    return _ranked(scored, BY_ADC)


def oracle_ivfpq_topk() -> str:
    """Replays the full composition: coarse Lloyd -> rounded coarse
    centroids -> integer residuals -> per-subspace PQ Lloyd -> encode
    -> probe -> residual LUT -> integer ADC. All stages MATERIALIZED."""
    ctes, a = _ivf_ctes()
    res = (
        f"(SELECT a.vec_id, a.cid, {_residual_sql('duckdb', 'a.vs', 'ivf.c')} "
        f"AS vs FROM {a} a JOIN ivf ON ivf.cid = a.cid)"
    )
    qres = (
        f"(SELECT probe.qid, probe.cid, "
        f"{_residual_sql('duckdb', 'q.vs', 'ivf.c')} AS vs FROM probe "
        f"JOIN iv q ON q.vec_id = probe.qid JOIN ivf ON ivf.cid = probe.cid)"
    )
    return _ranked_sql(
        [
            *ctes,
            f"rsv AS MATERIALIZED ({_subvectors_sql(res, 'vec_id, cid')})",
            *_pq_ctes("rsv"),
            _probe_cte(),
            _lut_sql(f"({_subvectors_sql(qres, 'qid, cid')})", "q.qid, q.cid"),
            f"cand AS MATERIALIZED (SELECT probe.qid, probe.cid, a.vec_id "
            f"FROM probe JOIN {a} a ON a.cid = probe.cid "
            f"AND a.vec_id <> probe.qid)",
            "scored AS (SELECT cand.qid, cand.vec_id, "
            "cast(sum(lut.d) as bigint) AS adc "
            "FROM cand JOIN codes ON codes.vec_id = cand.vec_id "
            "JOIN lut ON lut.qid = cand.qid AND lut.cid = cand.cid "
            "AND lut.m = codes.m AND lut.code = codes.code "
            "GROUP BY 1, 2)",
        ],
        BY_ADC,
    )


# ---------------------------------------------------------------------------
# augmented Gram matrix — the one reduction PCA / whitening / linear
# probing needs at corpus scale: G = AᵀA where A is the vector matrix
# with a constant-1 column prepended, so G packs [[n, Σvᵀ], [Σv, VᵀV]]
# (count, component sums and second moments) in ONE pass. Classic
# distributed-ML partial-sum shape (the same map-side normal-equation
# pattern as gcp.py): each Arrow batch emits one 65x65 partial, the
# final agg merges d²/2-sized partials — NEVER a vector-level shuffle.
# Vectors are floor-scaled to integers (GRAM_SCALE) so the reduction
# is exact and engine-independent: at 1e4 scale a component product is
# <= 1e8, leaving room for ~1e10 vectors in int64.

GRAM_SCALE = 10_000


def embedding_gram(emb: DataFrame) -> DataFrame:
    """(j, k, gram) for j <= k over the 1-augmented scaled vectors.

    Scale: mapInPandas emits ONE (d+1)²-row partial per Arrow batch;
    the shuffle moves only partials (thousands of rows regardless of
    corpus size); the final groupBy is map-side combined."""
    import numpy as np
    import pandas as pd

    d_plus = DIM + 1
    iu = np.triu_indices(d_plus)

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.floor(
                np.stack(pdf["embedding"].values).astype(np.float64)
                * float(GRAM_SCALE)
            ).astype(np.int64)
            A = np.concatenate(
                [np.full((V.shape[0], 1), GRAM_SCALE, dtype=np.int64), V],
                axis=1,
            )
            G = A.T @ A
            yield pd.DataFrame(
                {"j": iu[0], "k": iu[1], "g": G[iu]}
            )

    partials = emb.select("embedding").mapInPandas(
        partial, schema="j long, k long, g long"
    )
    return partials.groupBy("j", "k").agg(
        F.sum("g").cast("bigint").alias("gram")
    )


def _gram_ctes() -> list[str]:
    """``embedding_gram`` in DuckDB as the CTE ``g`` (j, k, gram)."""
    return [
        f"va AS MATERIALIZED (SELECT vec_id, list_prepend(cast({GRAM_SCALE} "
        f"as bigint), {scaled_vec_sql('duckdb', GRAM_SCALE)}) AS vs "
        f"FROM embeddings)",
        f"ea AS (SELECT vec_id, unnest(vs) AS val, "
        f"unnest(range(0, {DIM + 1})) AS j FROM va)",
        "g AS MATERIALIZED (SELECT a.j AS j, b.j AS k, "
        "cast(sum(a.val * b.val) as bigint) AS gram "
        "FROM ea a JOIN ea b ON a.vec_id = b.vec_id AND a.j <= b.j "
        "GROUP BY 1, 2)",
    ]


def oracle_embedding_gram() -> str:
    return "WITH " + ", ".join(_gram_ctes()) + " SELECT j, k, gram FROM g"


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via k-means + within-cluster
# cosine pruning (Abbas, Tirumala, Simig, Ganguli, Morcos 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", arXiv:2303.09540). The trick that makes semantic
# dedup tractable at 10^12 items: an all-pairs cosine scan is O(n^2),
# but after k-means clustering near-duplicates land in the SAME
# cluster, so only within-cluster pairs are examined — K scales with
# the corpus (the paper uses K=50k on 100M items) to bound cluster
# size, and the pair stage is an equi-join on cluster id, never a
# cross join. Complements the pairwise `embedding_neardup` family:
# neardup REPORTS pairs; semdedup DECIDES which rows survive.


def semdedup(emb: DataFrame) -> DataFrame:
    """(vec_id, cid, kept): kept=0 iff some same-cluster vector with
    cosine >= MIN_COS_PPM ranks higher under the keeper rule.

    Keeper rule (the paper's default, "keep examples far from the
    centroid"): within a near-duplicate pair the member FARTHER from
    the shared cluster centroid survives; ties break toward the larger
    vec_id. Because both members share the centroid (S, n), distances
    compare as the pure-integer numerators ||n*v - S||^2 — exact,
    order-free, and bit-replayable by the SQL oracle.

    Scale posture: the Lloyd rounds are the IVF coarse quantizer's
    (K-row centroid broadcast, map-only scoring); the dedup stage is
    one equi-join on cid (cluster-size-bounded by choosing IVF_K ~
    n/avg_sz) plus a K-row broadcast for the centroid keys.
    """
    assigned, cents = _coarse(emb)
    num = _sqdist_num_sql("spark", "vs", "s", "n")
    keyed = assigned.join(F.broadcast(cents), "cid").selectExpr(
        "vec_id", "cid", f"{num} AS ckey"
    )
    v = _vectors(emb)
    # localCheckpoint before the self-join: a USING-list self-join on
    # one shared lazy plan can silently degrade to a per-key cross
    # join (see build notes); the checkpoint also truncates the Lloyd
    # lineage out of both join sides.
    items = (
        keyed.join(v, "vec_id")
        .selectExpr("vec_id", "cid", "ckey", "vs AS va", "norm2 AS na")
        .localCheckpoint(eager=True)
    )
    b = items.selectExpr(
        "vec_id AS vec_b", "cid", "ckey AS ckey_b", "va AS vb", "na AS nb"
    )
    removed = (
        _cosine(
            items.join(b, "cid").where(F.col("vec_id") != F.col("vec_b")),
            "vec_id", "ckey", "vec_b", "ckey_b",
        )
        .where(F.col("cos_key") >= MIN_COS_PPM)
        .where("ckey_b > ckey OR (ckey_b = ckey AND vec_b > vec_id)")
        .select("vec_id")
        .distinct()
    )
    return (
        items.select("vec_id", "cid")
        .join(removed.withColumn("rm", F.lit(1)), "vec_id", "left")
        .selectExpr("vec_id", "cid", "cast(rm IS NULL as int) AS kept")
    )


def oracle_semdedup() -> str:
    """Full DuckDB replay: the coarse Lloyd chain, then the
    within-cluster pair prune. ``items`` is MATERIALIZED — it is
    referenced three times and DuckDB 1.0 would otherwise re-inline
    its inputs per reference."""
    ctes, a = _ivf_ctes()
    num = _sqdist_num_sql("duckdb", "a.vs", "c.s", "c.n")
    pairs = _cosine_sql(
        "a.vec_id, a.ckey, b.vec_id AS vec_b, b.ckey AS ckey_b",
        "items a JOIN items b ON a.cid = b.cid AND a.vec_id <> b.vec_id",
    )
    ctes += [
        f"keyed AS (SELECT a.vec_id, a.cid, {num} AS ckey "
        f"FROM {a} a JOIN ivf c ON a.cid = c.cid)",
        f"v AS ({_vectors_cte()})",
        "items AS MATERIALIZED (SELECT k.vec_id, k.cid, k.ckey, "
        "v.vs, v.na FROM keyed k JOIN v ON v.vec_id = k.vec_id)",
        f"rem AS (SELECT DISTINCT vec_id FROM ({pairs}) "
        f"WHERE cos_key >= {MIN_COS_PPM} "
        f"AND (ckey_b > ckey OR (ckey_b = ckey AND vec_b > vec_id)))",
    ]
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT items.vec_id, items.cid, "
        "cast(rem.vec_id IS NULL as int) AS kept "
        "FROM items LEFT JOIN rem ON rem.vec_id = items.vec_id"
    )


# ---------------------------------------------------------------------------
# contrastive hard-negative mining (FaceNet, Schroff et al. 2015;
# standard in CLIP-style training-data pipelines): for each anchor,
# the k most-similar vectors whose CLASS LABEL differs — the
# highest-loss negatives. Same broadcast + window shape as
# cosine_topk with the anti-label predicate fused into the join; at
# scale the anchor side is the tiny broadcast and the corpus is
# scanned once.

N_NEG_CLASSES = 7


def hard_negatives(emb: DataFrame) -> DataFrame:
    """(qid, rank, vec_id, cos_key) — top-k nearest with a different
    label (label = vec_id % N_NEG_CLASSES, the deterministic class)."""
    n = N_NEG_CLASSES
    pairs = _query_pairs(_vectors(emb), f"vec_id % {n} != qid % {n}")
    return _ranked(_cosine(pairs, "qid", "vec_id"))


def oracle_hard_negatives() -> str:
    n = N_NEG_CLASSES
    return _cos_topk_sql(
        [],
        f"v a JOIN v b ON a.vec_id < {N_QUERIES} "
        f"AND b.vec_id % {n} <> a.vec_id % {n}",
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (the FAISS ScalarQuantizer QT_8bit family,
# public faiss wiki / Guo et al.): per-dimension corpus min/max ->
# uint8 code c = (255*(v-min)) div range -> reconstruction
# recon = min + c*range/255. Everything here stays INTEGER: values
# are the 1e6-scaled ints, codes are exact integer division, and the
# reconstruction is kept x255 (min*255 + c*range) so the asymmetric
# dot is one pure-int64 partial sum — no float enters the plan on
# either engine. Completes the quantization family next to PQ / IVF /
# IVF-PQ / LSH.

BY_ADC_KEY = ("adc_key DESC", "vec_id")


def sq8_topk(emb: DataFrame) -> DataFrame:
    """(qid, rank, vec_id, adc_key): asymmetric dot between exact
    queries and SQ8-reconstructed corpus codes (x255 scale)."""
    dims = _scaled(emb).select(
        "vec_id", F.posexplode("vs").alias("pos0", "val")
    ).selectExpr("vec_id", "pos0 + 1 AS pos", "val")
    stats = dims.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    recon = (
        dims.join(F.broadcast(stats), "pos")
        .selectExpr(
            "vec_id", "pos",
            "CASE WHEN mx = mn THEN mn * 255 ELSE mn * 255 + "
            "((255 * (val - mn)) div (mx - mn)) * (mx - mn) END AS recon255",
        )
    )
    q = dims.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS qid", "pos", "val AS qval"
    )
    scored = (
        recon.join(F.broadcast(q), "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum(F.expr("qval * recon255")).alias("adc_key"))
    )
    return _ranked(scored, BY_ADC_KEY)


def oracle_sq8_topk() -> str:
    return _ranked_sql(
        [
            f"v AS MATERIALIZED ({_scaled_cte()})",
            f"dims AS MATERIALIZED (SELECT vec_id, i AS pos, vs[i] AS val "
            f"FROM v, range(1, {DIM} + 1) t(i))",
            "stats AS MATERIALIZED (SELECT pos, min(val) AS mn, "
            "max(val) AS mx FROM dims GROUP BY 1)",
            "recon AS MATERIALIZED (SELECT vec_id, dims.pos, "
            "CASE WHEN mx = mn THEN mn * 255 ELSE mn * 255 + "
            "((255 * (val - mn)) // (mx - mn)) * (mx - mn) END AS recon255 "
            "FROM dims JOIN stats ON stats.pos = dims.pos)",
            f"q AS (SELECT vec_id AS qid, pos, val AS qval FROM dims "
            f"WHERE vec_id < {N_QUERIES})",
            "scored AS (SELECT qid, vec_id, "
            "cast(sum(qval * recon255) as bigint) AS adc_key "
            "FROM recon JOIN q ON q.pos = recon.pos "
            "WHERE vec_id <> qid GROUP BY 1, 2)",
        ],
        BY_ADC_KEY,
    )


# ---------------------------------------------------------------------------
# two-stage truncated-dimension rerank (Matryoshka-style coarse pass,
# Kusupati et al. 2022: rank on a dimension PREFIX, exact-rerank the
# shortlist). The coarse key reads only the first DIM/2 dims —
# at 10^12 vectors that halves the bytes the first pass touches; the
# exact pass sees RERANK_SHORTLIST rows per query, not the corpus.

RERANK_PREFIX = 32
RERANK_SHORTLIST = 192  # recall-tuned: exact top-5 agreement on synth
BY_PREFIX = ("ckey DESC", "vec_id")


def ann_rerank_topk(emb: DataFrame) -> DataFrame:
    """(qid, rank, vec_id, cos_key): exact cosine over the
    prefix-dot shortlist."""
    v = _vectors(emb).withColumn("vp", F.expr(f"slice(vs, 1, {RERANK_PREFIX})"))
    coarse = _query_pairs(v, "vec_id != qid").selectExpr(
        "qid", "vec_id", "va", "vb", "na", "nb",
        f"{dot_sql('spark', 'pa', 'pb')} AS ckey",
    )
    short = _top_k(coarse, ["qid"], BY_PREFIX, RERANK_SHORTLIST)
    return _ranked(_cosine(short, "qid", "vec_id"))


def oracle_ann_rerank_topk() -> str:
    p = RERANK_PREFIX
    coarse = (
        f"(SELECT a.vec_id AS qid, b.vec_id, "
        f"{dot_sql('duckdb', f'a.vs[1:{p}]', f'b.vs[1:{p}]')} AS ckey "
        f"FROM v a JOIN v b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id)"
    )
    return _cos_topk_sql(
        [
            f"cand AS (SELECT qid, vec_id FROM "
            f"({_top_k_sql(coarse, ['qid'], BY_PREFIX, RERANK_SHORTLIST)}))"
        ],
        _CAND_PAIRS,
    )


# ---------------------------------------------------------------------------
# PCA dominant component by integer power iteration on the EXACT
# centered scatter matrix (the classic distributed-PCA recipe: one
# pass of map-side Gram partials -> a d x d driver-side eigensolve ->
# a map-only projection; cf. Halko, Martinsson, Tropp 2011 §4 for why
# the d x d reduction is the only communication PCA needs). The
# scatter matrix comes from ``embedding_gram`` (exact int64 second
# moments), and every subsequent step — quantization, matrix-vector
# products, renormalization, sign fix, projection — is integer
# arithmetic with floor-division semantics shared between numpy and
# the SQL oracle, so the dominant axis and every per-vector score are
# bit-replayable by DuckDB from the raw table. Corpus-scale posture:
# the gram reduce moves (d+1)^2/2 partials per Arrow batch (never a
# vector shuffle), the iteration touches a d x d table only, and the
# projection is a map-only scan with the axis broadcast as a literal.
#
# Near-isotropic spectra (the synth embeddings sit at lambda1/lambda2
# ~ 1.07) would need ~90 plain power rounds, so the iteration first
# SQUARES the quantized scatter PCA_SQUARINGS times — B <- quant(B B)
# raises the eigengap to the 2^k power (lambda-ratio 0.93 -> 0.93^64
# ~ 0.01) — then runs PCA_ITERS matvec rounds. d x d x d integer
# products per squaring, trivial at d = 64 on driver and oracle both.

PCA_SQUARINGS = 6
PCA_ITERS = 3
PCA_NORM = 1_000_000


def _fdiv_sql(a: str, b: str) -> str:
    """Floor division (b > 0) in truncating-division dialects —
    matches numpy's // for int64."""
    return (
        f"(CASE WHEN ({a}) >= 0 THEN ({a}) // ({b}) "
        f"ELSE -(((-({a})) + ({b}) - 1) // ({b})) END)"
    )


def pca_pc1(emb: DataFrame) -> DataFrame:
    """(vec_id, pc1): each embedding's integer score along the
    dominant eigenvector of the exact centered scatter matrix.

    The gram collect is d^2-sized (4 KB at d=64) regardless of corpus
    size — the same driver-side reduction shape as a Lloyd centroid
    update."""
    import numpy as np

    g = embedding_gram(emb).toPandas()
    d = DIM
    G = np.zeros((d + 1, d + 1), dtype=np.int64)
    G[g["j"].to_numpy(), g["k"].to_numpy()] = g["gram"].to_numpy()
    n = int(G[0, 0]) // (GRAM_SCALE * GRAM_SCALE)
    s = G[0, 1:] // GRAM_SCALE  # exact: G[0,j] = GRAM_SCALE * sum vj
    Cu = np.triu(G[1:, 1:])
    C = Cu + Cu.T - np.diag(np.diag(Cu))
    C = n * C - np.outer(s, s)
    q = max(1, int(np.abs(C).max()) // PCA_NORM)
    cq = C // q  # numpy // floors — matches _fdiv_sql
    for _ in range(PCA_SQUARINGS):
        B = cq @ cq
        qb = max(1, int(np.abs(B).max()) // PCA_NORM)
        cq = B // qb
    v = np.full(d, PCA_NORM, dtype=np.int64)
    for _ in range(PCA_ITERS):
        w = cq @ v
        qw = max(1, int(np.abs(w).max()) // PCA_NORM)
        v = w // qw
    jmax = int(np.argmax(np.abs(v)))  # first max == (abs DESC, j ASC)
    if v[jmax] < 0:
        v = -v
    off = int(np.dot(v, s)) // n  # Python // floors — matches _fdiv_sql
    lits = ", ".join(f"{int(x)}L" for x in v)
    return _scaled(emb, GRAM_SCALE).selectExpr(
        "vec_id", f"{dot_sql('spark', 'vs', f'array({lits})')} - ({off}) AS pc1"
    )


def oracle_pca_pc1() -> str:
    """Full DuckDB replay from the raw embeddings table: gram ->
    centered scatter -> quantize -> PCA_SQUARINGS matrix-squaring
    rounds -> PCA_ITERS matvec/renorm rounds (MATERIALIZED — chained
    CTEs re-expand otherwise) -> sign fix -> map-only projection."""
    ctes = [
        *_gram_ctes(),
        f"nn AS (SELECT gram // {GRAM_SCALE * GRAM_SCALE} AS n FROM g "
        f"WHERE j = 0 AND k = 0)",
        f"sv AS (SELECT k - 1 AS j, gram // {GRAM_SCALE} AS s FROM g "
        f"WHERE j = 0 AND k >= 1)",
        # full symmetric centered scatter (j, k in 0..d-1)
        "ch AS (SELECT j - 1 AS j, k - 1 AS k, gram FROM g WHERE j >= 1)",
        "cf AS (SELECT j, k, gram FROM ch UNION ALL "
        "SELECT k, j, gram FROM ch WHERE j <> k)",
        "cs AS MATERIALIZED (SELECT cf.j, cf.k, "
        "(SELECT n FROM nn) * cf.gram - a.s * b.s AS val "
        "FROM cf JOIN sv a ON a.j = cf.j JOIN sv b ON b.j = cf.k)",
        f"qq AS (SELECT greatest(1, max(abs(val)) // {PCA_NORM}) AS q "
        f"FROM cs)",
        f"cq AS MATERIALIZED (SELECT j, k, "
        f"{_fdiv_sql('val', '(SELECT q FROM qq)')} AS val FROM cs)",
        f"v0 AS (SELECT cast(r.range as bigint) AS j, "
        f"cast({PCA_NORM} as bigint) AS val FROM range(0, {DIM}) r)",
    ]
    mat = "cq"
    for t in range(1, PCA_SQUARINGS + 1):
        ctes.append(
            f"b{t} AS MATERIALIZED (SELECT a.j AS j, b.k AS k, "
            f"cast(sum(a.val * b.val) as bigint) AS val "
            f"FROM {mat} a JOIN {mat} b ON a.k = b.j GROUP BY 1, 2)"
        )
        ctes.append(
            f"qb{t} AS (SELECT greatest(1, max(abs(val)) // {PCA_NORM}) "
            f"AS q FROM b{t})"
        )
        ctes.append(
            f"bq{t} AS MATERIALIZED (SELECT j, k, "
            f"{_fdiv_sql('val', f'(SELECT q FROM qb{t})')} AS val "
            f"FROM b{t})"
        )
        mat = f"bq{t}"
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT {mat}.j AS j, "
            f"cast(sum({mat}.val * {prev}.val) as bigint) AS val "
            f"FROM {mat} JOIN {prev} ON {prev}.j = {mat}.k GROUP BY 1)"
        )
        ctes.append(
            f"m{t} AS (SELECT greatest(1, max(abs(val)) // {PCA_NORM}) "
            f"AS q FROM w{t})"
        )
        ctes.append(
            f"v{t} AS MATERIALIZED (SELECT j, "
            f"{_fdiv_sql('val', f'(SELECT q FROM m{t})')} AS val FROM w{t})"
        )
        prev = f"v{t}"
    ctes += [
        f"sg AS (SELECT CASE WHEN val < 0 THEN -1 ELSE 1 END AS sgn "
        f"FROM {prev} ORDER BY abs(val) DESC, j LIMIT 1)",
        f"vf AS MATERIALIZED (SELECT j, val * (SELECT sgn FROM sg) AS val "
        f"FROM {prev})",
        "od AS (SELECT cast(sum(vf.val * sv.s) as bigint) AS vd "
        "FROM vf JOIN sv ON sv.j = vf.j)",
        f"ofs AS (SELECT {_fdiv_sql('vd', '(SELECT n FROM nn)')} AS off "
        f"FROM od)",
        "ax AS (SELECT list(val ORDER BY j) AS axis FROM vf)",
        f"e4 AS ({_scaled_cte(GRAM_SCALE)})",
    ]
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT vec_id, cast(list_dot_product(vs, "
        "(SELECT axis FROM ax)) as bigint) - (SELECT off FROM ofs) AS pc1 "
        "FROM e4"
    )
