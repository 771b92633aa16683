"""Paired-embedding curation scores — CLIP-score filtering and the
aesthetic linear probe, the two standard embedding-space gates of
web-scale image-text corpus construction (LAION-400M/5B, Schuhmann
2021/2022: keep pairs with CLIP cosine >= 0.28; LAION-Aesthetics:
rank by a linear probe over the image embedding).

Synthetic pairing: the embeddings table interleaves modalities —
even ``vec_id`` 2m is pair m's image embedding, odd 2m+1 its caption
embedding (the test-data stand-in for the (image_emb, text_emb)
struct a production row carries side by side).

Scale posture:
- ``clip_score_filter``: one hash-partitioned equi-join on the pair
  key (in production the two vectors live in the SAME row, so this
  stage is map-only; the join exists here only because the fixture
  stores one vector per row). The integer-scaled dot + floor-keyed
  cosine are the exact cross-engine pattern of operators/ann.py.
- ``aesthetic_probe``: pure map-only scan — the probe weight vector
  is a deterministic integer literal folded into the plan; score,
  decile bucket and keep flag all compute inside whole-stage codegen.
  Zero shuffles at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .ann import cos_key_sql, dot_sql, scaled_vec_sql

# LAION English-pair threshold: cosine >= 0.28 -> floor key >= 280000
CLIP_KEY_MIN = 280_000
AESTHETIC_KEY_MIN = 0  # probe cosine >= 0 ("predicted aesthetic >= mid")
PROBE_DIM = 64


def clip_score_filter(emb: DataFrame, key_min: int = CLIP_KEY_MIN) -> DataFrame:
    """(pair_id, img_vec_id, txt_vec_id, clip_key, kept): integer-
    exact CLIP cosine per image-text pair + the LAION keep flag."""
    vs = scaled_vec_sql("spark")
    v = emb.selectExpr("vec_id", f"{vs} AS vs").selectExpr(
        "vec_id", "vs", f"{dot_sql('spark', 'vs', 'vs')} AS n2"
    )
    a = v.filter("vec_id % 2 = 0").selectExpr(
        "cast(vec_id / 2 as bigint) AS pair_id",
        "vec_id AS img_vec_id", "vs AS av", "n2 AS na",
    )
    b = v.filter("vec_id % 2 = 1").selectExpr(
        "cast((vec_id - 1) / 2 as bigint) AS pair_id",
        "vec_id AS txt_vec_id", "vs AS bv", "n2 AS nb",
    )
    return (
        a.join(b, "pair_id")
        .selectExpr(
            "pair_id", "img_vec_id", "txt_vec_id", "na", "nb",
            f"{dot_sql('spark', 'av', 'bv')} AS dot",
        )
        .selectExpr(
            "pair_id", "img_vec_id", "txt_vec_id",
            f"{cos_key_sql()} AS clip_key",
        )
        .selectExpr(
            "pair_id", "img_vec_id", "txt_vec_id", "clip_key",
            f"cast(clip_key >= {key_min} as int) AS kept",
        )
    )


def oracle_clip_score(key_min: int = CLIP_KEY_MIN) -> str:
    vs = scaled_vec_sql("duckdb")
    return (
        f"WITH v AS (SELECT vec_id, vs, "
        f"{dot_sql('duckdb', 'vs', 'vs')} AS n2 FROM "
        f"(SELECT vec_id, {vs} AS vs FROM embeddings)), "
        f"a AS (SELECT cast(vec_id / 2 as bigint) AS pair_id, "
        f"vec_id AS img_vec_id, vs AS av, n2 AS na FROM v "
        f"WHERE vec_id % 2 = 0), "
        f"b AS (SELECT cast((vec_id - 1) / 2 as bigint) AS pair_id, "
        f"vec_id AS txt_vec_id, vs AS bv, n2 AS nb FROM v "
        f"WHERE vec_id % 2 = 1), "
        f"j AS (SELECT pair_id, img_vec_id, txt_vec_id, na, nb, "
        f"{dot_sql('duckdb', 'av', 'bv')} AS dot "
        f"FROM a JOIN b USING (pair_id)), "
        f"k AS (SELECT pair_id, img_vec_id, txt_vec_id, "
        f"{cos_key_sql()} AS clip_key FROM j) "
        f"SELECT pair_id, img_vec_id, txt_vec_id, clip_key, "
        f"cast(clip_key >= {key_min} as int) AS kept FROM k"
    )


def probe_weights(dim: int = PROBE_DIM) -> list[int]:
    """Deterministic integer probe weights in [-48, 48] (quadratic-
    residue mixing, same family as ann.py's LSH plane signs) — the
    stand-in for a trained aesthetic head's frozen weight vector."""
    return [(((d * 37 + 11) ** 2) % 97) - 48 for d in range(dim)]


def aesthetic_probe(
    emb: DataFrame, key_min: int = AESTHETIC_KEY_MIN, dim: int = PROBE_DIM
) -> DataFrame:
    """(vec_id, aest_key, bucket, kept): cosine of each embedding
    against the frozen probe vector, floor-keyed at 1e6; bucket =
    eighths of [-1, 1]; kept = key >= threshold. Map-only."""
    w = probe_weights(dim)
    wn2 = sum(x * x for x in w)
    lit = f"array({', '.join(str(x) for x in w)})"
    return (
        emb.selectExpr("vec_id", f"{scaled_vec_sql('spark')} AS vs")
        .selectExpr(
            "vec_id",
            f"{dot_sql('spark', 'vs', 'vs')} AS na",
            f"{dot_sql('spark', 'vs', lit)} AS dot",
        )
        .selectExpr(
            "vec_id",
            "cast(floor(1000000.0E0 * cast(dot as double) / "
            f"(sqrt(cast(na as double)) * sqrt({float(wn2)!r}E0))) "
            "as bigint) AS aest_key",
        )
        .selectExpr(
            "vec_id", "aest_key",
            "cast(floor((cast(aest_key as double) + 1000000.0E0) / "
            "250000.0E0) as bigint) AS bucket",
            f"cast(aest_key >= {key_min} as int) AS kept",
        )
    )


def oracle_aesthetic_probe(
    key_min: int = AESTHETIC_KEY_MIN, dim: int = PROBE_DIM
) -> str:
    w = probe_weights(dim)
    wn2 = sum(x * x for x in w)
    lit = f"[{', '.join(str(x) for x in w)}]"
    return (
        f"WITH v AS (SELECT vec_id, {scaled_vec_sql('duckdb')} AS vs "
        f"FROM embeddings), "
        f"d AS (SELECT vec_id, {dot_sql('duckdb', 'vs', 'vs')} AS na, "
        f"{dot_sql('duckdb', 'vs', lit)} AS dot FROM v), "
        f"k AS (SELECT vec_id, cast(floor(1000000.0E0 * "
        f"cast(dot as double) / (sqrt(cast(na as double)) * "
        f"sqrt({float(wn2)!r}E0))) as bigint) AS aest_key FROM d) "
        f"SELECT vec_id, aest_key, "
        f"cast(floor((cast(aest_key as double) + 1000000.0E0) / "
        f"250000.0E0) as bigint) AS bucket, "
        f"cast(aest_key >= {key_min} as int) AS kept FROM k"
    )
