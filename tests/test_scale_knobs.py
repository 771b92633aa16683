"""Non-default scale-knob sweeps for the r4 operator families
(the r4 verdict's task 9, following the r3 knob-test pattern):
semdedup K/iters/threshold, dsir B/k, bpe rounds, hll m.

Each test drives a NON-default knob end-to-end and checks the result
against an independent invariant or the DuckDB oracle at the same
knob value — not against the default-knob gate output.
"""

import duckdb
import pytest

from gdal_spark import synth
from gdal_spark.operators import ann, bpe, dsir, textops

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_semdedup_nondefault_knobs_threshold_extremes(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    monkeypatch.setattr(ann, "IVF_K", 8)
    monkeypatch.setattr(ann, "IVF_ITERS", 3)
    # threshold above max possible cosine (1e6 ppm): nothing can be a
    # near-duplicate, every vector survives
    monkeypatch.setattr(ann, "MIN_COS_PPM", 1_000_001)
    out_hi = ann.semdedup(emb).collect()
    assert out_hi and all(r["kept"] == 1 for r in out_hi)
    # threshold below -1e6 ppm: every same-cluster pair qualifies, so
    # exactly ONE keeper (the top-ranked member) survives per cluster
    monkeypatch.setattr(ann, "MIN_COS_PPM", -1_000_001)
    out_lo = ann.semdedup(emb).collect()
    assert len(out_lo) == len(out_hi)
    kept_by_cid = {}
    for r in out_lo:
        kept_by_cid.setdefault(r["cid"], 0)
        kept_by_cid[r["cid"]] += r["kept"]
    assert all(v == 1 for v in kept_by_cid.values())


def test_dsir_nondefault_buckets_k_vs_oracle(spark):
    out = (
        dsir.dsir_select(_docs(spark), buckets=32, k=25)
        .orderBy("weight_key")
        .collect()
    )
    assert len(out) == 25
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    odf = con.execute(dsir.oracle_dsir(buckets=32, k=25)).fetchdf()
    oracle = sorted(
        zip(odf["doc_id"], odf["weight_key"]), key=lambda t: t[1]
    )
    assert [(r["doc_id"], r["weight_key"]) for r in out] == [
        (a, int(b)) for a, b in oracle
    ]


def test_bpe_nondefault_rounds_prefix_stable(spark):
    """Greedy BPE is prefix-stable: the first k merges are identical
    whatever the total round count — so a 6-round train must equal
    the head of a 12-round train."""
    docs = _docs(spark)
    _, m6 = bpe.bpe_train(docs, n_merges=6)
    _, m12 = bpe.bpe_train(docs, n_merges=12)
    assert len(m6) == 6 and len(m12) == 12
    key = lambda m: (m["rank"], m["a_id"], m["b_id"], m["new_id"],
                     m["pair_count"], m["new_sym"])
    assert [key(m) for m in m6] == [key(m) for m in m12[:6]]
    for m in m12:
        assert m["new_sym"] == m["a_sym"] + m["b_sym"]


@pytest.mark.parametrize("m", [16, 256])
def test_hll_nondefault_m_vs_oracle_and_accuracy(spark, m):
    out = textops.hll_distinct(_docs(spark), m=m).collect()
    assert len(out) == 1
    r = out[0]
    assert r["m"] == m
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    o = con.execute(textops.oracle_hll_distinct(m=m)).fetchone()
    assert (r["m"], r["v_zero"], r["s_scaled"], r["est_hll"],
            r["exact_distinct"]) == tuple(o)
    # raw-estimator accuracy: within 5 std errors (1.04/sqrt(m)),
    # generous because the raw estimator has no small-range correction
    rel = abs(r["est_hll"] - r["exact_distinct"]) / r["exact_distinct"]
    assert rel < 5 * 1.04 / (m**0.5), (m, rel)
