"""Independent (brute-force / closed-form) checks for the round-4
session-2 operators: gdalenhance equalize, ExactSubstr span dedup,
unigram perplexity, LAION-style curation, ogrlineref."""

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR

from gdal_spark import synth
from gdal_spark.operators import curation, dedup, enhance, lineref, textops
from gdal_spark.operators.stats import gdal_checksum


# ---------------------------------------------------------------------------
# gdalenhance -equalize


def test_equalize_band_matches_reference_lut():
    """Brute-force C-semantics replay on a fixed band."""
    rng = np.arange(0, 64, dtype=np.int64).reshape(8, 8) * 4 % 256
    out = enhance._equalize_band(rng.astype(np.uint8))
    # reference loop, straight from gdalenhance.cpp
    hist = [0] * 256
    for v in rng.reshape(-1):
        hist[int(v)] += 1
    hist[0] = 0
    hist[255] = 0
    total = sum(hist) or 1
    cum, run = [0] * 256, 0
    for i in range(256):
        cum[i] = run + hist[i] // 2
        run += hist[i]
    lut = [max(0, min(255, (cum[i] * 256) // total)) for i in range(256)]
    expect = np.array([[lut[int(v)] for v in row] for row in rng])
    assert (out == expect).all()


def test_equalize_flattens_histogram():
    """Equalization should spread a peaked distribution: the max
    bucket share drops."""
    v = np.concatenate([np.full(900, 100), np.arange(100, dtype=np.int64)])
    v = v.reshape(10, 100).astype(np.uint8)
    out = enhance._equalize_band(v)
    assert out.min() >= 0 and out.max() <= 255
    # the dominant value maps near its CDF position (~0.45*256 + uniform half)
    dom = np.bincount(out.reshape(-1), minlength=256).argmax()
    assert 100 <= dom <= 140


def test_equalize_all_extremes_guard():
    """A band of only 0/255 has a zeroed histogram -> total guard."""
    v = np.zeros((4, 4), dtype=np.uint8)
    v[0, 0] = 255
    out = enhance._equalize_band(v)
    assert out.shape == v.shape  # no div-by-zero


def test_equalize_checksums_spark(spark):
    imgs = synth.add_pixels(
        synth.images_df(spark, 8).filter("i < 4")
    )
    rows = enhance.equalize_checksums(imgs).collect()
    assert len(rows) == 12  # 4 images x 3 channels
    # cross-check one image against local decode
    from gdal_spark import codecs

    pdf = imgs.select("image_id", "bytes").toPandas()
    arr = codecs.decode_image(bytes(pdf["bytes"][0]))
    want = gdal_checksum(enhance._equalize_band(arr[:, :, 0]))
    got = {(r.image_id, r.channel): r.cks for r in rows}
    assert got[(pdf["image_id"][0], 0)] == want


# ---------------------------------------------------------------------------
# ExactSubstr spans


def _brute_spans(texts, L):
    grams = {}
    for did, txt in texts:
        toks = [t for t in txt.split(" ") if t]
        for p in range(len(toks) - L + 1):
            g = " ".join(toks[p : p + L])
            grams.setdefault(g, []).append((did, p))
    dup = {}
    for g, occ in grams.items():
        if len(occ) >= 2:
            for did, p in occ:
                dup.setdefault(did, set()).add(p)
    spans = []
    for did, ps in dup.items():
        ps = sorted(ps)
        start = prev = ps[0]
        n = 1
        for p in ps[1:]:
            if p - prev > L:
                spans.append((did, start, prev + L - 1, n))
                start, n = p, 0
            prev = p
            n += 1
        spans.append((did, start, prev + L - 1, n))
    return sorted(spans)


def test_exact_substring_spans_brute(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    want = _brute_spans(texts, dedup.ES_L)
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in dedup.exact_substring_spans(docs).collect()
    )
    assert got == want
    assert len(got) > 0  # the corpus does contain duplicated substrings


def test_exact_substring_spans_merges_overlaps(spark):
    """Two duplicated 3-grams at offsets 0 and 2 in one doc merge into
    a single span; an isolated dup elsewhere stays separate."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "a b c d e x y z q w",  # dup grams: abc@0, cde@2 -> one span 0..4
                "a b c d e r s t u v",
                "m m m x y z k k k l",  # xyz@3 dup with doc1's x y z? (pos 5..7)
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.exact_substring_spans(docs, L=3).collect()
    )
    want = _brute_spans(list(zip(pdf.doc_id, pdf.text)), 3)
    assert got == [(d, s, e) for d, s, e, _ in want]
    # doc 1: the 'a b c d e' dup grams (p=0..2) merge, and the 'x y z'
    # dup at p=5 touches that window (gap == L), extending it to 0..7
    assert (1, 0, 7) in got
    # doc 3's isolated 'x y z' dup stays its own span
    assert (3, 3, 5) in got


# ---------------------------------------------------------------------------
# unigram perplexity


def test_unigram_perplexity_brute(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = {r.doc_id: [t for t in r.text.split(" ") if t] for r in docs.collect()}
    from collections import Counter

    c = Counter(t for toks in texts.values() for t in toks)
    T = sum(c.values())
    nll = {t: math.floor(10_000.0 * math.log(float(T) / n)) for t, n in c.items()}
    out = {r.doc_id: (r.n_tokens, r.nll_sum_u, r.nll_avg_u, r.ppl_bucket)
           for r in textops.unigram_perplexity(docs).collect()}
    assert set(out) == set(texts)
    for did, toks in texts.items():
        s = sum(nll[t] for t in toks)
        assert out[did][0] == len(toks)
        assert out[did][1] == s
        assert out[did][2] == s // len(toks)
    assert {b for *_, b in out.values()} >= {"head", "middle"}


# ---------------------------------------------------------------------------
# LAION-style curation filter


def test_laion_filter_rules(spark):
    imgs = synth.images_df(spark, 64)
    out = {r.image_id: r for r in curation.laion_filter(imgs).collect()}
    meta = synth.images_pdf(64)
    assert len(out) == 64
    for _, m in meta.iterrows():
        r = out[m.image_id]
        size_ok = min(m.w, m.h) >= curation.MIN_SIDE
        aspect_ok = max(m.w, m.h) * 10 <= curation.ASPECT_X10 * min(m.w, m.h)
        assert r.size_ok == int(size_ok)
        assert r.aspect_ok == int(aspect_ok)
        assert r.lossless == int(m.fmt == "png")
        assert r.keep == int(size_ok and aspect_ok)  # caption rules all pass
    kept = sum(r.keep for r in out.values())
    assert 0 < kept < 64  # the rule set discriminates


# ---------------------------------------------------------------------------
# ogrlineref


def test_lineref_points_brute(spark):
    m = 32
    out = lineref.lineref_points(spark, m).collect()
    polys = synth.polygons_pdf(m)
    params = {}
    import duckdb

    pdf = duckdb.sql(synth.polygons_sql_cte(m, "duckdb")).df()
    for _, p in pdf.iterrows():
        if p.kind not in ("box", "hot_box", "triangle"):
            continue
        cx, cy, hw, hh = p.cx, p.cy, p.hw, p.hh
        if p.kind == "triangle":
            verts = [(cx - hw, cy - hh), (cx + hw, cy - hh), (cx, cy + hh),
                     (cx - hw, cy - hh)]
        else:
            verts = [(cx - hw, cy - hh), (cx + hw, cy - hh), (cx + hw, cy + hh),
                     (cx - hw, cy + hh), (cx - hw, cy - hh)]
        params[int(p.j)] = verts
    got = {(r.poly_id, r.frac_ppm): (r.seg, r.px_key, r.py_key) for r in out}
    n_expected = len(params) * len(lineref.FRAC_PPMS)
    assert len(got) == n_expected
    for j, verts in params.items():
        lens_u = []
        for (x0, y0), (x1, y1) in zip(verts, verts[1:]):
            lens_u.append(
                math.floor(1e9 * math.sqrt((x1 - x0) ** 2 + (y1 - y0) ** 2))
            )
        total_u = sum(lens_u)
        for ppm in lineref.FRAC_PPMS:
            m_u = (ppm * total_u) // 1_000_000
            cum = 0
            for s, seg_u in enumerate(lens_u):
                if cum <= m_u < cum + seg_u:
                    (x0, y0), (x1, y1) = verts[s], verts[s + 1]
                    t = float(m_u - cum) / float(seg_u)
                    px, py = x0 + t * (x1 - x0), y0 + t * (y1 - y0)
                    key = (f"poly{j:04d}", ppm)
                    assert got[key][0] == s
                    assert got[key][1] == math.floor(1e6 * px)
                    assert got[key][2] == math.floor(1e6 * py)
                    break
                cum += seg_u
            else:
                pytest.fail("measure outside ring")


def test_lineref_point_on_ring(spark):
    """Every output point lies on the feature boundary (box: one
    coordinate pinned to an edge; measured via envelope distance)."""
    out = lineref.lineref_points(spark, 16).collect()
    import duckdb

    pdf = duckdb.sql(synth.polygons_sql_cte(16, "duckdb")).df()
    byj = {f"poly{int(p.j):04d}": p for _, p in pdf.iterrows()}
    for r in out:
        p = byj[r.poly_id]
        if p.kind == "triangle":
            continue
        x, y = r.px_key / 1e6, r.py_key / 1e6
        on_x_edge = (
            abs(x - (p.cx - p.hw)) < 2e-6 or abs(x - (p.cx + p.hw)) < 2e-6
        )
        on_y_edge = (
            abs(y - (p.cy - p.hh)) < 2e-6 or abs(y - (p.cy + p.hh)) < 2e-6
        )
        assert on_x_edge or on_y_edge


# ---------------------------------------------------------------------------
# gdalmove


def test_gdalmove_gt_roundtrip(spark):
    """The refit GT must map pixel (0,0) to the UL corner and pixel
    (w,0)/(0,h) to the UR/LL corners of the sinusoidal footprint."""
    from gdal_spark import srs
    from gdal_spark.operators import reproject

    out = {r.image_id: r for r in reproject.gdalmove_gt(
        synth.images_df(spark, 16)
    ).collect()}
    meta = synth.images_pdf(16)
    p = srs.SINU_REGISTRY[54008]
    for _, m in meta.iterrows():
        r = out[m.image_id]
        xul, yul = srs.sinu_forward(m.lon, m.lat, p)
        lon2 = m.lon + 0.1
        lat2 = m.lat - 0.1 * m.h / m.w
        xur, _ = srs.sinu_forward(lon2, m.lat, p)
        xll, yll = srs.sinu_forward(m.lon, lat2, p)
        # mm/um tolerance: the test formula may differ by float
        # association from the SQL, so allow 1 quantum
        assert abs(r.gt0_mm - math.floor(xul * 1e3)) <= 1
        assert abs(r.gt3_mm - math.floor(yul * 1e3)) <= 1
        gt1 = (xur - xul) / m.w
        gt5 = (yll - yul) / m.h
        assert abs(r.gt1_um - math.floor(gt1 * 1e6)) <= 2
        assert abs(r.gt5_um - math.floor(gt5 * 1e6)) <= 2
        # north-up footprint: no rotation terms beyond quantization
        # (gt2 = x-shear from latitude-dependent easting; nonzero in
        # sinusoidal, but gt4 (northing vs lon) must be ~0)
        assert abs(r.gt4_um) <= 1


# ---------------------------------------------------------------------------
# cumulative viewshed


def test_viewshed_cumulative_matches_single(spark):
    """Sum of the K single-observer viewsheds == the cumulative rows
    (the reference semantics: run once per observer, add rasters)."""
    from gdal_spark.operators import viewshed as vs

    W = 32
    obs = ((15, 14), (4, 4))
    cum = {r.y: r.vis_total for r in vs.viewshed_cumulative_rows(
        spark, W, W, observers=obs
    ).collect()}
    total = {y: 0 for y in range(W)}
    for ox, oy in obs:
        for r in vs.viewshed_rows(spark, W, W, ox, oy).collect():
            total[r.y] += r.n_visible
    assert cum == total


def test_viewshed_cumulative_bounds(spark):
    from gdal_spark.operators import viewshed as vs

    W = 32
    rows = vs.viewshed_cumulative_rows(
        spark, W, W, observers=((15, 14), (4, 4), (28, 25))
    ).collect()
    assert len(rows) == W
    for r in rows:
        assert 0 <= r.vis_total <= 3 * W
    # each observer sees itself: its row has vis_total >= 1
    assert all(r.n == W for r in rows)


# ---------------------------------------------------------------------------
# source mixing


def test_source_mix_sample_deterministic(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r.doc_id: (r.rate_ppm, r.h, r.keep)
         for r in textops.source_mix_sample(docs).collect()}
    b = {r.doc_id: (r.rate_ppm, r.h, r.keep)
         for r in textops.source_mix_sample(docs.repartition(7)).collect()}
    assert a == b  # membership survives repartitioning
    for did, (rate, h, keep) in a.items():
        assert h == (did * textops.KNUTH) % 4294967296
        assert keep == int(h % textops.MIX_MOD < rate)
    # the mixture discriminates: full-rate sources keep everything,
    # low-rate sources keep strictly fewer
    full = [k for _, (r, _, k) in a.items() if r == 1_000_000]
    low = [k for _, (r, _, k) in a.items() if r == 100_000]
    assert all(k == 1 for k in full)
    assert sum(low) < len(low)


# ---------------------------------------------------------------------------
# zonal statistics


def test_zonal_stats_brute(spark):
    """Independent numpy pixel-center PIP over the full grid."""
    import duckdb
    from pyspark.sql import functions as F
    from gdal_spark.operators import rasterize as rastop

    g = rastop.GridDef(-180.0, 90.0, 1.0, 360, 180, tile_px=64)
    m = 32
    polys = synth.polygons_df(spark, m).filter(
        F.col("kind").isin("box", "hot_box", "triangle")
    )
    got = {r.poly_id: (r.n_px, r.sum_v, r.min_v, r.max_v)
           for r in rastop.zonal_stats(spark, polys, g).collect()}
    pdf = duckdb.sql(synth.polygons_sql_cte(m, "duckdb")).df()
    gy, gx = np.mgrid[0:g.height, 0:g.width]
    pxc = g.x0 + (gx + 0.5) * g.res
    pyc = g.y_top - (gy + 0.5) * g.res
    val = (gx * 131 + gy * 241) % 1009
    want = {}
    for _, p in pdf.iterrows():
        if p.kind not in ("box", "hot_box", "triangle"):
            continue
        inside = (
            (pxc >= p.cx - p.hw) & (pxc <= p.cx + p.hw)
            & (pyc >= p.cy - p.hh) & (pyc <= p.cy + p.hh)
        )
        if p.kind == "triangle":
            ax, ay = p.cx - p.hw, p.cy - p.hh
            bx, by = p.cx + p.hw, p.cy - p.hh
            cx2, cy2 = p.cx, p.cy + p.hh
            inside &= (bx - ax) * (pyc - ay) >= 0
            inside &= (cx2 - bx) * (pyc - by) - (cy2 - by) * (pxc - bx) >= 0
            inside &= (ax - cx2) * (pyc - cy2) - (ay - cy2) * (pxc - cx2) >= 0
        if inside.any():
            v = val[inside]
            want[f"poly{int(p.j):04d}"] = (
                int(v.size), int(v.sum()), int(v.min()), int(v.max())
            )
    assert got == want
    assert len(got) > 0


# ---------------------------------------------------------------------------
# color-relief nearest entry


def test_color_relief_nearest_matches_c_rule():
    """Exhaustive 0..255 check against the literal reference rule
    (apps/gdaldem_lib.cpp:1663)."""
    from gdal_spark.operators import dem

    ramp = dem.COLOR_RAMP
    vals = [e[0] for e in ramp]
    cols = [e[1] for e in ramp]

    def ref(v):
        if v <= vals[0]:
            return cols[0]
        for i in range(1, len(vals)):
            if v == vals[i]:
                return cols[i]
            if v < vals[i]:
                return cols[i - 1] if v - vals[i - 1] < vals[i] - v else cols[i]
        return cols[-1]

    v = np.arange(0, 256).reshape(16, 16).astype(np.uint8)
    out = dem.color_relief_nearest_band(v).reshape(-1, 3)
    for x in range(256):
        assert tuple(out[x]) == tuple(ref(x)), x


def test_color_relief_nearest_differs_from_interpolated():
    """The two selection modes must disagree somewhere strictly
    between ramp entries (otherwise the mode flag is dead code)."""
    from gdal_spark.operators import dem

    v = np.arange(0, 256).reshape(16, 16).astype(np.uint8)
    near = dem.color_relief_nearest_band(v)
    lin = dem.color_relief_band(v)
    assert (near != lin).any()
    # and they agree exactly at the ramp entries
    for ev, ec in dem.COLOR_RAMP:
        assert tuple(near.reshape(-1, 3)[ev]) == ec
        assert tuple(lin.reshape(-1, 3)[ev]) == ec


# ---------------------------------------------------------------------------
# round-4 session-3 ops: packing, tfidf, split, AR buckets, cutline
# crop, histogram matching


def _docs_pdf():
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def test_pack_sequences_brute(spark):
    """Greedy concat-and-chunk replay in plain Python per source."""
    from gdal_spark.operators.textops import pack_sequences, PACK_LEN

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r["source"], r["doc_id"], r["pack_id"]): (
            r["start_in_pack"], r["n_tok_here"]
        )
        for r in pack_sequences(docs).collect()
    }
    want = {}
    pdf = _docs_pdf().sort_values("doc_id")
    for source, grp in pdf.groupby("source"):
        pos = 0
        for _, row in grp.iterrows():
            n_tok = len([t for t in row["text"].split(" ") if t])
            if n_tok == 0:
                continue
            start = pos
            while start < pos + n_tok:
                p = start // PACK_LEN
                end = min(pos + n_tok, (p + 1) * PACK_LEN)
                want[(source, row["doc_id"], p)] = (
                    start - p * PACK_LEN, end - start
                )
                start = end
            pos += n_tok
    assert got == want and len(got) > 0


def test_pack_sequences_tiles_stream(spark):
    """Spans cover every token exactly once per source."""
    from gdal_spark.operators.textops import pack_sequences, PACK_LEN
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = pack_sequences(docs)
    per_pack = (
        out.groupBy("source", "pack_id")
        .agg(F.sum("n_tok_here").alias("filled"))
        .collect()
    )
    by_src = {}
    for r in per_pack:
        by_src.setdefault(r["source"], []).append((r["pack_id"], r["filled"]))
    for src, packs in by_src.items():
        packs.sort()
        # every pack except the last is exactly full
        for pid, filled in packs[:-1]:
            assert filled == PACK_LEN, (src, pid, filled)
        assert 0 < packs[-1][1] <= PACK_LEN


def test_tfidf_topk_brute(spark):
    from collections import Counter

    from gdal_spark.operators.textops import tfidf_topk, TFIDF_SCALE, TFIDF_K

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r["doc_id"], r["rnk"]): (r["token"], r["score_key"])
        for r in tfidf_topk(docs).collect()
    }
    pdf = _docs_pdf()
    df_count = Counter()
    toks_by_doc = {}
    for _, row in pdf.iterrows():
        toks = [t for t in row["text"].split(" ") if t]
        toks_by_doc[row["doc_id"]] = toks
        df_count.update(set(toks))
    n_docs = sum(1 for t in toks_by_doc.values() if t)
    want = {}
    for doc_id, toks in toks_by_doc.items():
        tf = Counter(toks)
        scored = sorted(
            (
                (-(tf[t] * TFIDF_SCALE * n_docs // df_count[t]), t)
                for t in tf
            ),
        )
        for rnk, (negkey, t) in enumerate(scored[:TFIDF_K], start=1):
            want[(doc_id, rnk)] = (t, -negkey)
    assert got == want and len(got) > 0


def test_dataset_split_brute(spark):
    from gdal_spark.operators.textops import dataset_split, SPLIT_KNUTH

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {r["doc_id"]: r["split"] for r in dataset_split(docs).collect()}
    pdf = _docs_pdf()
    for _, row in pdf.iterrows():
        h = (row["doc_id"] * SPLIT_KNUTH) % 4294967296 % 100
        want = "train" if h < 80 else ("val" if h < 90 else "test")
        assert got[row["doc_id"]] == want
    # all three splits materialize and are roughly 80/10/10
    from collections import Counter

    frac = Counter(got.values())
    assert frac["train"] > frac["val"] > 0 and frac["test"] > 0


def test_ar_bucket_batches_brute(spark):
    from gdal_spark.operators.multimodal import (
        ar_bucket_batches, ar_buckets, AR_BATCH, AR_SHARDS,
    )

    n = 512
    imgs = synth.images_df(spark, n)
    got = {
        r["image_id"]: (r["bw"], r["bh"], r["shard"], r["batch_id"], r["kept"])
        for r in ar_bucket_batches(imgs).collect()
    }
    buckets = ar_buckets()
    W = {0: 16, 1: 20, 2: 64, 3: 100, 4: 256}
    assign = {}
    for i in range(n):
        w, h = W[i % 5], W[(i + 1) % 5]
        best = min(buckets, key=lambda b: (abs(w / h - b[0] / b[1]), b[0]))
        assign.setdefault((best, i % AR_SHARDS), []).append(i)
    want = {}
    for (bucket, shard), members in assign.items():
        members.sort()
        n_full = len(members) // AR_BATCH
        for rn, i in enumerate(members):
            want[f"img{i:08d}"] = (
                bucket[0], bucket[1], shard, rn // AR_BATCH,
                int(rn // AR_BATCH < n_full),
            )
    assert got == want and len(got) == n


def test_crop_to_cutline_brute(spark):
    import math

    from gdal_spark.operators.reproject import (
        crop_to_cutline_grid, CROP_CUT_BOX,
    )

    n = 1024
    imgs = synth.images_df(spark, n)
    got = {
        r["image_id"]: (r["px0"], r["py0"], r["out_w"], r["out_h"])
        for r in crop_to_cutline_grid(imgs).collect()
    }
    pdf = imgs.select("image_id", "lon", "lat", "w", "h").toPandas()
    cx0, cy0, cx1, cy1 = CROP_CUT_BOX
    want = {}
    for _, r in pdf.iterrows():
        res = 0.1 / r["w"]
        px0 = max(0, min(int(r["w"]), math.floor((cx0 - r["lon"]) / res)))
        px1 = max(0, min(int(r["w"]), math.ceil((cx1 - r["lon"]) / res)))
        py0 = max(0, min(int(r["h"]), math.floor((r["lat"] - cy1) / res)))
        py1 = max(0, min(int(r["h"]), math.ceil((r["lat"] - cy0) / res)))
        if px1 - px0 > 0 and py1 - py0 > 0:
            want[r["image_id"]] = (px0, py0, px1 - px0, py1 - py0)
    assert got == want and len(got) > 0


def test_match_histogram_brute():
    """Numpy replay of the exact integer quantile map on synthetic
    bands: matched CDF dominates the scaled global CDF minimally."""
    rng = np.random.RandomState(7)
    bands = [
        rng.randint(0, 256, (32, 32)).astype(np.uint8),
        (rng.randint(0, 64, (16, 16)) + 100).astype(np.uint8),
    ]
    g_hist = np.zeros(256, dtype=np.int64)
    for b in bands:
        g_hist += np.bincount(b.reshape(-1).astype(np.int64), minlength=256)
    g_cdf = np.cumsum(g_hist)
    n_g = int(g_cdf[-1])
    for b in bands:
        out = enhance._match_band(b, g_cdf, n_g)
        hist = np.bincount(b.reshape(-1).astype(np.int64), minlength=256)
        l_cdf = np.cumsum(hist)
        n_l = int(l_cdf[-1])
        for v in np.nonzero(hist)[0]:
            u = int(out[b == v][0])
            # all pixels of one value map to one value
            assert (out[b == v] == u).all()
            # u is the minimal quantile-dominating target
            assert g_cdf[u] * n_l >= l_cdf[v] * n_g
            if u > 0:
                assert g_cdf[u - 1] * n_l < l_cdf[v] * n_g


def test_match_histogram_identity_on_global():
    """A band whose histogram IS the global histogram maps to itself."""
    v = np.arange(256, dtype=np.uint8).reshape(16, 16)
    g_cdf = np.cumsum(np.bincount(v.reshape(-1).astype(np.int64),
                                  minlength=256))
    out = enhance._match_band(v, g_cdf, int(g_cdf[-1]))
    assert (out == v).all()


def test_embedding_gram_brute(spark):
    """Gram reduction equals the direct numpy AᵀA on the same scaled
    vectors, including the augmented count/sum row."""
    from gdal_spark.operators.ann import embedding_gram, GRAM_SCALE, DIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {(r["j"], r["k"]): r["gram"] for r in embedding_gram(emb).collect()}
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    V = np.floor(
        np.stack(pdf["embedding"].values).astype(np.float64) * GRAM_SCALE
    ).astype(np.int64)
    A = np.concatenate(
        [np.full((V.shape[0], 1), GRAM_SCALE, dtype=np.int64), V], axis=1
    )
    G = A.T @ A
    assert len(got) == (DIM + 1) * (DIM + 2) // 2
    for (j, k), g in got.items():
        assert G[j, k] == g
    # the augmented corner is the row count
    assert got[(0, 0)] == len(pdf) * GRAM_SCALE * GRAM_SCALE


def test_cutline_blend_ramp_properties():
    """The density ramp: 1000 deep inside, 0 deep outside, monotone
    across the edge, 500 exactly on it."""
    from gdal_spark.operators.warp import CUTLINE_BOX, CBLEND_PX

    fx0, fy0, fx1, fy1 = CUTLINE_BOX
    w = h = 64
    xs = np.arange(w, dtype=np.float64) + 0.5
    ys = np.arange(h, dtype=np.float64) + 0.5
    dx = np.minimum(xs - fx0 * w, fx1 * w - xs)
    dy = np.minimum(ys - fy0 * h, fy1 * h - ys)
    d = np.minimum(dx[None, :], dy[:, None])
    dens = np.clip(np.floor(500.0 + 500.0 * d / CBLEND_PX), 0, 1000)
    # deep interior / exterior saturate
    assert dens[int(h * (fy0 + fy1) / 2), int(w * (fx0 + fx1) / 2)] == 1000
    assert dens[0, 0] == 0
    # monotone along a row crossing the left edge
    row = dens[int(h * (fy0 + fy1) / 2)]
    left = int(fx0 * w)
    assert (np.diff(row[: left + 3]) >= 0).all()
    # intermediate ramp values exist (the blend is not a 0/1 mask)
    assert ((dens > 0) & (dens < 1000)).any()


def test_slope_percent_vs_degrees():
    """percent = 100*tan(radians(degrees)) on every interior pixel of
    a synthetic DEM (cross-checks the -p mode against the gated
    degree-mode Horn machinery)."""
    from gdal_spark import codecs
    from gdal_spark.operators import dem as demod

    arr = codecs.decode_image(
        codecs.encode_image(codecs.make_pixels(3, 64, 64), "png")
    )[:, :, 0]
    feats = demod.window_features(arr)
    deg = feats["slope"]
    d = arr.astype(np.float64)
    w = {
        (dx, dy): d[1 + dy : d.shape[0] - 1 + dy, 1 + dx : d.shape[1] - 1 + dx]
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    }
    hx = (w[(-1, -1)] + 2 * w[(-1, 0)] + w[(-1, 1)]) - (
        w[(1, -1)] + 2 * w[(1, 0)] + w[(1, 1)]
    )
    hy = (w[(-1, 1)] + 2 * w[(0, 1)] + w[(1, 1)]) - (
        w[(-1, -1)] + 2 * w[(0, -1)] + w[(1, -1)]
    )
    pct = np.sqrt(hx * hx + hy * hy) * 12.5
    assert np.allclose(pct, 100.0 * np.tan(np.radians(deg)), rtol=1e-9)
    assert (pct >= 0).all() and (pct > 0).any()


def test_merge_nodata_composite_brute():
    """Numpy composite replay: last valid image wins per pixel."""
    from gdal_spark import codecs
    from gdal_spark.operators.rastertable import MERGE_NODATA

    W = {0: 16, 1: 20, 2: 64, 3: 100, 4: 256}
    comp = np.full((256, 256, 3), -1, dtype=np.int64)
    win = np.full((256, 256, 3), -1, dtype=np.int64)
    for i in range(16):
        w, h = W[i % 5], W[(i + 1) % 5]
        fmt = "png" if i % 2 == 0 else "jpeg"
        arr = codecs.decode_image(
            codecs.encode_image(codecs.make_pixels(i, w, h), fmt)
        ).astype(np.int64)
        valid = arr != MERGE_NODATA
        comp[:h, :w][valid] = arr[valid]
        for c in range(3):
            win[:h, :w, c][valid[:, :, c]] = i
    import duckdb

    from gdal_spark.operators import rastertable as rt

    got = {
        (y, ch): (n_, vs, ws)
        for y, ch, n_, vs, ws in duckdb.sql(
            rt.oracle_merge_nodata_composite(4096, 16)
        ).fetchall()
    }
    for ch in range(3):
        for y in range(256):
            row_v = comp[y, :, ch]
            mask = row_v >= 0
            if not mask.any():
                assert (y, ch) not in got
                continue
            n_, vs, ws = got[(y, ch)]
            assert n_ == int(mask.sum())
            assert vs == int(row_v[mask].sum())
            assert ws == int(win[y, :, ch][mask].sum())


def test_viewshed_curved_cc1_is_flat():
    """cc=1 zeroes the correction: the curved oracle reproduces the
    uncorrected viewshed bit-for-bit, and the default correction
    actually changes the result (the flag is not dead code)."""
    import duckdb

    from gdal_spark.operators import viewshed as vs

    flat = sorted(duckdb.sql(vs.oracle_viewshed(64, 64, 31, 29)).fetchall())
    nocorr = sorted(
        duckdb.sql(
            vs.oracle_viewshed_curved(64, 64, 31, 29, cc=1.0)
        ).fetchall()
    )
    assert nocorr == flat
    curved = sorted(
        duckdb.sql(vs.oracle_viewshed_curved(64, 64, 31, 29)).fetchall()
    )
    assert curved != flat
    # curvature can only REMOVE visibility (both samples and targets
    # drop, targets by more)
    assert sum(r[2] for r in curved) < sum(r[2] for r in flat)


def test_sliding_window_contains_tumbling(spark):
    """An hour-aligned sliding window covers exactly the tumbling
    window's events, and each event lands in length/slide windows."""
    from gdal_spark import streaming

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    slid = {
        (r["win_start_us"], r["event_type"]): (
            r["n_events"], r["n_users"], r["value_cents_sum"]
        )
        for r in streaming.sliding_event_stats(events).collect()
    }
    tumb = {
        (r["win_start_us"], r["event_type"]): (
            r["n_events"], r["n_users"], r["value_cents_sum"]
        )
        for r in streaming.windowed_event_stats(events).collect()
    }
    for key, v in tumb.items():
        assert slid[key] == v
    fan = streaming.WINDOW_US // streaming.SLIDE_US
    assert sum(v[0] for v in slid.values()) == fan * events.count()


def test_slope_zt_differs_from_horn():
    """ZevenbergenThorne and Horn must disagree on a non-planar
    surface but agree exactly on an inclined plane (both derivative
    stencils are exact for linear surfaces)."""
    from gdal_spark import codecs

    # non-planar: the synthetic DEM
    d = codecs.decode_image(
        codecs.encode_image(codecs.make_pixels(3, 32, 32), "png")
    )[:, :, 0].astype(np.float64)

    def horn_pct(d):
        w = {
            (dx, dy): d[1 + dy : d.shape[0] - 1 + dy,
                        1 + dx : d.shape[1] - 1 + dx]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        }
        hx = (w[(-1, -1)] + 2 * w[(-1, 0)] + w[(-1, 1)]) - (
            w[(1, -1)] + 2 * w[(1, 0)] + w[(1, 1)]
        )
        hy = (w[(-1, 1)] + 2 * w[(0, 1)] + w[(1, 1)]) - (
            w[(-1, -1)] + 2 * w[(0, -1)] + w[(1, -1)]
        )
        return np.sqrt(hx * hx + hy * hy) * 12.5

    def zt_pct(d):
        dx = d[1:-1, :-2] - d[1:-1, 2:]
        dy = d[2:, 1:-1] - d[:-2, 1:-1]
        return np.sqrt(dx * dx + dy * dy) * 50.0

    assert (np.abs(horn_pct(d) - zt_pct(d)) > 1e-9).any()
    # inclined plane z = 3x + 4y -> slope 500% under both algorithms
    gy, gx = np.mgrid[0:16, 0:16]
    plane = (3.0 * gx + 4.0 * gy).astype(np.float64)
    assert np.allclose(horn_pct(plane), 500.0)
    assert np.allclose(zt_pct(plane), 500.0)


# ---------------------------------------------------------------------------
# round-4 session-3 batch: hillshade ZT, elliptical moving average,
# paragraph dedup, epoch shuffle, bilinear location probe


def test_hillshade_zt_equals_horn_on_plane_differs_on_curvature():
    """Both gradient stencils are exact on a linear surface AND their
    z-normalizations (1/2 vs 1/8) cancel identically — so ZT shade ==
    Horn shade on a plane, while any curvature separates them."""
    from gdal_spark import codecs
    from gdal_spark.operators import dem

    k = dem._hillshade(2.0)

    def zt_shade(d):
        d = d.astype(np.float64)
        gx = d[1:-1, :-2] - d[1:-1, 2:]
        gy = -(d[2:, 1:-1] - d[:-2, 1:-1])
        c254 = (
            k.sin254 - (gy * k.caz254 - gx * k.saz254)
        ) / np.sqrt(1.0 + k.square_z * (gx * gx + gy * gy))
        return np.where(c254 <= 0.0, 1.0, 1.0 + c254)

    gy_, gx_ = np.mgrid[0:16, 0:16]
    plane = (3.0 * gx_ + 4.0 * gy_).astype(np.float64)
    horn = dem.window_features(plane)["shade"]
    assert np.allclose(horn, zt_shade(plane), atol=1e-12)

    curved = codecs.decode_image(
        codecs.encode_image(codecs.make_pixels(5, 32, 32), "png")
    )[:, :, 0]
    horn_c = dem.window_features(curved)["shade"]
    assert (np.abs(horn_c - zt_shade(curved)) > 1e-6).any()


def test_grid_average_ellipse_brute_force(spark):
    """Distributed elliptical moving average vs a naive loop,
    including the min_points nodata gate."""
    from gdal_spark.operators import raster_misc

    pts = pd.DataFrame(raster_misc.GRID_POINTS)
    r1, r2, ang, mp = 25.0, 10.0, 30.0, 2
    got = (
        raster_misc.grid_average_ellipse(
            spark, pts, 32, 32, r1, r2, ang, mp
        )
        .toPandas().sort_values("y").reset_index(drop=True)
    )
    a = np.deg2rad(ang)
    ca, sa = np.cos(a), np.sin(a)
    exp_cov = np.zeros(32, np.int64)
    exp_sum = np.zeros(32, np.int64)
    for gy in range(32):
        for gx in range(32):
            s = cnt = 0
            for px, py, v in zip(pts.px, pts.py, pts.v):
                rx, ry = px - gx, py - gy
                rxr = rx * ca + ry * sa
                ryr = ry * ca - rx * sa
                if r2 * r2 * rxr * rxr + r1 * r1 * ryr * ryr <= (
                    r1 * r1 * r2 * r2
                ):
                    s += v
                    cnt += 1
            if cnt >= mp:
                exp_cov[gy] += 1
                exp_sum[gy] += int(np.floor(s / cnt * 1e6 + 5e-4))
    assert (got["n_covered"].to_numpy() == exp_cov).all()
    assert (got["val_sum_key"].to_numpy() == exp_sum).all()
    # the gate must actually bite somewhere at these radii
    single = 0
    for gy in range(32):
        for gx in range(32):
            cnt = 0
            for px, py in zip(pts.px, pts.py):
                rx, ry = px - gx, py - gy
                rxr = rx * ca + ry * sa
                ryr = ry * ca - rx * sa
                if r2 * r2 * rxr * rxr + r1 * r1 * ryr * ryr <= (
                    r1 * r1 * r2 * r2
                ):
                    cnt += 1
            single += cnt == 1
    assert single > 0


def test_paragraph_dedup_tiny_corpus(spark):
    """First-occurrence-wins semantics + doc reassembly fingerprint
    on a hand-built corpus."""
    import hashlib

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c d e f",      # chunks: "a b c", "d e f"
                    "a b c x y z",      # "a b c" is a dup of doc 1
                    "x y z",            # dup of doc 2's 2nd chunk
                ],
            }
        )
    )
    got = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(docs, k=3).collect()
    }
    assert got[1]["kept_n"] == 2 and got[1]["dropped_n"] == 0
    assert got[2]["kept_n"] == 1 and got[2]["dropped_n"] == 1
    assert got[3]["kept_n"] == 0 and got[3]["dropped_n"] == 1
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1]["clean_md5"] == md5("a b c d e f")
    assert got[2]["clean_md5"] == md5("x y z")
    assert got[3]["clean_md5"] == md5("")


def test_epoch_shuffle_is_a_permutation_per_epoch(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(100)), "text": "t"})
    )
    out = textops.epoch_shuffle(docs, epochs=2, n_shards=4).toPandas()
    for e in (0, 1):
        ep = out[out.epoch == e]
        assert sorted(ep.doc_id) == list(range(100))
        for sh, grp in ep.groupby("shard"):
            assert sorted(grp.pos) == list(range(len(grp)))
    o0 = out[out.epoch == 0].sort_values(["shard", "pos"]).doc_id.tolist()
    o1 = out[out.epoch == 1].sort_values(["shard", "pos"]).doc_id.tolist()
    assert o0 != o1
    again = textops.epoch_shuffle(docs, epochs=2, n_shards=4).toPandas()
    assert (
        out.sort_values(["epoch", "shard", "pos"]).doc_id.tolist()
        == again.sort_values(["epoch", "shard", "pos"]).doc_id.tolist()
    )


def test_bilinear_probe_at_pixel_centers_equals_nearest(spark):
    """Sites placed exactly at pixel centers make every bilinear
    weight 0/1, so the probe must reproduce the nearest-neighbor
    probe bit-for-bit."""
    from gdal_spark.operators import rastertable

    imgs = synth.images_df(spark, 64)
    meta = imgs.limit(4).toPandas()
    res = 0.1 / meta.w.to_numpy()
    sites = pd.DataFrame(
        {
            "site_id": [f"c{i}" for i in range(len(meta))],
            "slon": meta.lon.to_numpy() + (5 + 0.5) * res,
            "slat": meta.lat.to_numpy() - (7 + 0.5) * res,
        }
    )
    sdf = spark.createDataFrame(sites)
    bil = rastertable.point_probe_bilinear(spark, imgs, sdf).toPandas()
    near = rastertable.point_probe(spark, imgs, sdf).toPandas()
    m = bil.merge(near, on=["site_id", "image_id", "ch"])
    assert len(m) >= 3 * len(meta)
    assert (m.px == 5).all() and (m.py == 7).all()
    assert (m.val_key == m.val * 10**6).all()


# ---------------------------------------------------------------------------
# round-4 session-3 batch 2: ZT aspect, patchify, channel norm stats


def test_aspect_zt_plane_azimuth_and_conventions():
    """On z = 3x + 4y the downslope bearing is atan2(-3, 4) ~ 323.13
    deg; the trigonometric convention must be the 90-minus companion
    of the azimuth; a constant raster is flat everywhere (-9999 az,
    0 trig)."""
    from gdal_spark.operators import dem

    def zt_aspect(d):
        d = d.astype(np.float64)
        dx = d[1:-1, 2:] - d[1:-1, :-2]
        dy = d[2:, 1:-1] - d[:-2, 1:-1]
        raw = np.arctan2(dy, -dx) / dem.DEG
        flat = (dx == 0) & (dy == 0)
        az = np.where(raw > 90.0, 450.0 - raw, 90.0 - raw)
        az = np.where(az == 360.0, 0.0, az)
        az = np.where(flat, -9999.0, az)
        tr = np.where(raw < 0.0, raw + 360.0, raw)
        tr = np.where(tr == 360.0, 0.0, tr)
        tr = np.where(flat, 0.0, tr)
        return az, tr, flat

    gy, gx = np.mgrid[0:12, 0:12]
    plane = 3.0 * gx + 4.0 * gy
    az, tr, flat = zt_aspect(plane)
    expect = (np.degrees(np.arctan2(-3.0, 4.0)) + 360.0) % 360.0
    assert not flat.any()
    assert np.allclose(az, expect)
    assert np.allclose((90.0 - tr) % 360.0, az % 360.0)

    az_c, tr_c, flat_c = zt_aspect(np.full((8, 8), 7.0))
    assert flat_c.all() and (az_c == -9999.0).all() and (tr_c == 0.0).all()


def test_patchify_brute_force(spark):
    from gdal_spark import codecs
    from gdal_spark.operators import multimodal

    imgs = synth.add_pixels(synth.images_df(spark, 64).filter("i < 3"))
    meta = synth.images_df(spark, 64).filter("i < 3").toPandas()
    got = (
        multimodal.patchify(imgs, p=8)
        .toPandas()
        .set_index(["image_id", "patch_idx", "ch"])
        .sort_index()
    )
    p = 8
    for _, row in meta.iterrows():
        arr = codecs.decode_image(
            codecs.encode_image(
                codecs.make_pixels(int(row.i), int(row.w), int(row.h)),
                row.fmt,
            )
        ).astype(np.int64)
        h, w, c = arr.shape
        for pr in range(h // p):
            for pc in range(w // p):
                for ch in range(c):
                    exp = arr[pr * p:(pr + 1) * p, pc * p:(pc + 1) * p, ch].sum()
                    r = got.loc[(row.image_id, pr * (w // p) + pc, ch)]
                    assert r["px_sum"] == exp
                    assert r["prow"] == pr and r["pcol"] == pc


def test_channel_norm_stats_matches_decode(spark):
    from gdal_spark import codecs
    from gdal_spark.operators import multimodal

    imgs = synth.add_pixels(synth.images_df(spark, 64).filter("i < 5"))
    meta = synth.images_df(spark, 64).filter("i < 5").toPandas()
    got = (
        multimodal.channel_norm_stats(imgs)
        .toPandas().set_index("ch").sort_index()
    )
    exp = np.zeros((3, 3), dtype=np.int64)
    for _, row in meta.iterrows():
        arr = codecs.decode_image(
            codecs.encode_image(
                codecs.make_pixels(int(row.i), int(row.w), int(row.h)),
                row.fmt,
            )
        ).astype(np.int64)
        for c in range(3):
            v = arr[:, :, c].ravel()
            exp[c] += (v.size, v.sum(), (v * v).sum())
    for c in range(3):
        assert got.loc[c, "n_px"] == exp[c, 0]
        assert got.loc[c, "v_sum"] == exp[c, 1]
        assert got.loc[c, "v2_sum"] == exp[c, 2]


def test_buildvrt_separate_places_bands(spark):
    """Band = input image, placed at its (i*3, i*2) dst window: the
    per-band pixel count must equal that image's w*h, and the
    x-weighted sum must shift by exactly 3*i*val_sum vs the unshifted
    frame (placement witness)."""
    from gdal_spark import codecs
    from gdal_spark.operators import rastertable

    imgs = synth.add_pixels(synth.images_df(spark, 64).filter("i < 4"))
    meta = synth.images_df(spark, 64).filter("i < 4").toPandas()
    got = rastertable.buildvrt_separate(imgs, max_i=4).toPandas()
    for _, row in meta.iterrows():
        band = got[got.band == row.i]
        arr = codecs.decode_image(
            codecs.encode_image(
                codecs.make_pixels(int(row.i), int(row.w), int(row.h)),
                row.fmt,
            )
        ).astype(np.int64)[:, :, 0]
        assert band.n.sum() == row.w * row.h
        assert band.val_sum.sum() == arr.sum()
        xw0 = (arr * np.arange(row.w)[None, :]).sum()
        assert band.xw_sum.sum() == xw0 + 3 * row.i * arr.sum()
        assert set(band.y) == set(range(row.i * 2, row.i * 2 + row.h))


def test_viewshed_maxdist_restricts_full_viewshed(spark):
    """-md must reproduce the unrestricted viewshed intersected with
    the range circle — nothing more, nothing less."""
    from gdal_spark.operators import viewshed as vs

    full = vs.viewshed_rows(spark, 32, 32, 15, 14).toPandas()
    md = vs.viewshed_maxdist_rows(spark, 32, 32, 15, 14, 6).toPandas()
    # per-row: in-range counts are the circle row widths
    ex_inr = [
        sum((tx - 15) ** 2 + (ty - 14) ** 2 <= 36 for tx in range(32))
        for ty in range(32)
    ]
    m = md.sort_values("y").reset_index(drop=True)
    assert (m.n_inrange == ex_inr).all()
    # visible-with-md <= visible-full everywhere, equal where the
    # whole visible set of the row is inside the circle
    f = full.sort_values("y").reset_index(drop=True)
    assert (m.n_visible <= f.n_visible).all()
    assert m.n_visible.sum() <= f.n_visible.sum()
    # and the kernel agrees with the scalar LOS reference inside range
    gy, gx = np.mgrid[0:32, 0:32]
    dem = vs._dem_value(gx, gy).astype(np.float64)
    for ty in (10, 14, 20):
        nvis = sum(
            1
            for tx in range(32)
            if (tx - 15) ** 2 + (ty - 14) ** 2 <= 36
            and vs.los_visible(dem, 15, 14, tx, ty)
        )
        assert int(m.loc[m.y == ty, "n_visible"].iloc[0]) == nvis


def test_sliding_chunks_brute_force(spark):
    """Window starts, overlap, tail truncation, and fingerprints vs a
    plain python replay."""
    import hashlib

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    " ".join(f"t{i}" for i in range(50)),
                    " ".join(f"u{i}" for i in range(32)),
                    "one",
                ],
            }
        )
    )
    got = textops.sliding_chunks(docs, L=32, S=24).toPandas()
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    for doc_id, text in ((1, [f"t{i}" for i in range(50)]),
                         (2, [f"u{i}" for i in range(32)]),
                         (3, ["one"])):
        toks = text
        starts = [s for s in range(0, len(toks), 24)]
        rows = got[got.doc_id == doc_id].sort_values("chunk_idx")
        assert list(rows.start) == starts
        for _, r in rows.iterrows():
            window = toks[int(r.start): int(r.start) + 32]
            assert r.chunk_len == len(window)
            assert r.chunk_md5 == md5(" ".join(window))
    # doc 1: 3 windows (0, 24, 48), last is a 2-token tail; doc 2: 2
    # windows (0, 24) with 8-token tail; doc 3: one 1-token window
    assert got.groupby("doc_id").size().to_dict() == {1: 3, 2: 2, 3: 1}


# ---------------------------------------------------------------------------
# gdal_create + ogrmerge -single


def test_gdal_create_checksum_matches_numpy(spark):
    """The closed-form constant-raster checksum must equal
    gdal_checksum of the materialized array (bit-parity with
    GDALChecksumImage semantics)."""
    from gdal_spark.operators import translate

    w, h, burn = 512, 512, (10, 200, 37)
    out = translate.gdal_create(spark, w, h, burn).toPandas()
    out = out.sort_values("band").reset_index(drop=True)
    assert len(out) == len(burn)
    for b, v in enumerate(burn):
        arr = np.full((h, w), v, dtype=np.uint8)
        assert out.loc[b, "checksum"] == gdal_checksum(arr)
        assert out.loc[b, "burn"] == v
        assert out.loc[b, "n_px"] == w * h
    # non-multiple-of-11 width exercises the partial-cycle branch
    out2 = translate.gdal_create(spark, 37, 23, (99,)).toPandas()
    assert out2.loc[0, "checksum"] == gdal_checksum(
        np.full((23, 37), 99, dtype=np.uint8)
    )


def test_ogrmerge_single_schema_union(spark):
    from gdal_spark.operators import vector_ops

    m = synth.N_POLYGONS_FOR_SF["0.001"]
    out = vector_ops.ogrmerge_single(spark, m).toPandas()
    n_sites = synth.N_SITES
    n_latt = len(synth.lattice_pdf())
    assert len(out) == m + n_latt + n_sites
    assert set(out.src_layer) == {"polygons", "lattice", "sites"}
    polys = out[out.src_layer == "polygons"]
    assert (polys.latt_id == "").all() and (polys.slon == -9999.0).all()
    sites = out[out.src_layer == "sites"]
    assert (sites.kind == "").all() and (sites.j >= 0).all()
    assert (out[out.src_layer == "lattice"].j == -1).all()


# ---------------------------------------------------------------------------
# multidim view / transpose


def test_mdim_translate_matches_numpy(spark):
    """numpy replay of the (t,y,x) cube, -subset y(8,39),
    -scaleaxes x(2) view, and the per-slice aggregates."""
    from gdal_spark.operators import mdim

    nt, ny, nx = 4, 64, 64
    t, y, x = np.meshgrid(
        np.arange(nt), np.arange(ny), np.arange(nx), indexing="ij"
    )
    cube = (t * 131071 + y * 8191 + x * 127 + 7) % 251
    view = cube[:, 8:40, ::2]
    out = (
        mdim.mdim_translate(spark)
        .toPandas()
        .sort_values("t")
        .reset_index(drop=True)
    )
    for ti in range(nt):
        v = view[ti]
        vy, vx = np.meshgrid(
            np.arange(v.shape[0]), np.arange(v.shape[1]), indexing="ij"
        )
        assert out.loc[ti, "n_cells"] == v.size
        assert out.loc[ti, "vmin"] == v.min()
        assert out.loc[ti, "vmax"] == v.max()
        assert out.loc[ti, "vsum"] == v.sum()
        assert out.loc[ti, "idx_cks"] == ((v * 31 + vy * 7 + vx) % 65536).sum() % 65536


def test_mdim_transpose_axis_roundtrip(spark):
    """Transpose (t,y,x)->(x,t,y): per-d0 sums equal the source
    cube's per-x sums."""
    from gdal_spark.operators import mdim

    nt, ny, nx = 4, 16, 16
    t, y, x = np.meshgrid(
        np.arange(nt), np.arange(ny), np.arange(nx), indexing="ij"
    )
    cube = (t * 131071 + y * 8191 + x * 127 + 7) % 251
    out = (
        mdim.mdim_transpose(spark)
        .toPandas()
        .sort_values("d0")
        .reset_index(drop=True)
    )
    for xi in range(nx):
        assert out.loc[xi, "vsum"] == cube[:, :, xi].sum()
        assert out.loc[xi, "n_cells"] == nt * ny


# ---------------------------------------------------------------------------
# STR packing + Z-order layout


def test_str_pack_balanced(spark):
    """Exact STR: every cell holds at most ceil(n/s^2) rows and the
    cells tile the full count, regardless of the hot-cell skew."""
    from gdal_spark.operators import skew

    n = synth.n_images(str(SF_DIR))
    out = skew.str_pack(synth.images_df(spark, n), s=8).toPandas()
    chunk = -(-n // 64)
    assert out.n_rows.sum() == n
    assert out.n_rows.max() <= chunk
    assert len(out) <= 64
    # spatial coherence: within a slab, cells stack by latitude
    for slab, g in out.groupby("slab"):
        g = g.sort_values("cell")
        assert (g.s_lat_key.to_numpy()[1:] >= g.s_lat_key.to_numpy()[:-1]).all()


def test_str_assign_bounds_approximates_balance(spark):
    """Sampled-bounds production path: full-table assignment from
    sample quantiles keeps every partition within 3x of ideal on the
    hot-cell-skewed corpus (sample = full table here, so the residual
    imbalance is only boundary ties)."""
    from gdal_spark.operators import skew

    n = synth.n_images(str(SF_DIR))
    imgs = synth.images_df(spark, n)
    pdf = imgs.select("lon", "lat").toPandas()
    lon_cuts, lat_cuts = skew.str_bounds_from_sample(pdf, s=4)
    out = skew.str_assign(imgs, lon_cuts, lat_cuts).groupBy(
        "slab", "cell"
    ).count().toPandas()
    assert out["count"].sum() == n
    assert out["count"].max() <= 3 * (n // 16 + 1)


def test_zorder_key_is_morton_bijection(spark):
    """zorder_sql computes the Morton interleave: matches a Python
    bit-interleave on random tiles and inverts uniquely."""
    import random

    from gdal_spark.operators import skew

    rng = random.Random(7)
    tiles = [(rng.randrange(1 << 12), rng.randrange(1 << 12)) for _ in range(200)]
    df = spark.createDataFrame(tiles, "tx long, ty long")
    out = df.selectExpr(
        "tx", "ty", f"{skew.zorder_sql('spark', 'tx', 'ty')} AS z"
    ).toPandas()

    def morton(tx, ty):
        z = 0
        for b in range(16):
            z |= ((tx >> b) & 1) << (2 * b) | ((ty >> b) & 1) << (2 * b + 1)
        return z

    for tx, ty, z in out.itertuples(index=False):
        assert z == morton(int(tx), int(ty))
    assert len({z for _, _, z in out.itertuples(index=False)}) == len(
        {(tx, ty) for tx, ty in tiles}
    )


def test_ogrsf_conformance_all_pass(spark):
    """Every layer-conformance invariant must hold — in particular
    the cell-indexed spatial join and the brute-force join must
    agree exactly (independent candidate generators)."""
    from gdal_spark.operators import vector_ops

    out = vector_ops.ogrsf_conformance(spark, 256, 64).toPandas()
    assert len(out) == 7
    bad = out[out.passed != 1]
    assert bad.empty, bad.to_dict("records")
    assert (out.lhs == out.rhs).all()


def test_adaptive_cells_bounds_extreme_skew(spark):
    """90% of rows in one 0.05-degree cell: adaptive splitting must
    re-key every hot row at the fine zoom and bring the max per-cell
    cardinality under the threshold (the bounded-per-key contract
    downstream grouped-map stages rely on)."""
    from gdal_spark.operators import skew

    n = 20_000
    df = spark.range(n).selectExpr(
        "id",
        "CASE WHEN id % 10 < 9 "
        "THEN 11.2E0 + 0.05E0 * (cast((id * 7919) % 997 as double) / 997.0E0) "
        "ELSE -170.0E0 + 340.0E0 * (cast(id % 1009 as double) / 1009.0E0) "
        "END AS lon",
        "CASE WHEN id % 10 < 9 "
        "THEN 48.1E0 + 0.05E0 * (cast((id * 104729) % 991 as double) / 991.0E0) "
        "ELSE -80.0E0 + 160.0E0 * (cast(id % 1013 as double) / 1013.0E0) "
        "END AS lat",
    )
    out = skew.adaptive_cells(df, base_zoom=8, fine_zoom=16, threshold=500)
    counts = out.groupBy("cell_id").count().toPandas()
    assert counts["count"].sum() == n
    assert counts["count"].max() <= 500, counts["count"].max()
    zooms = out.groupBy("cell_zoom").count().toPandas().set_index("cell_zoom")
    assert zooms.loc[16, "count"] == 18_000  # every hot row re-keyed


def test_geom_centroid_offcenter_hole_and_concave(spark):
    """Independent decomposition check for the two cases the synth
    oracle can't discriminate by symmetry: an OFF-CENTER hole must
    shift the centroid away from the hole, and the concave 'C' must
    match its box-minus-notch closed form."""
    from gdal_spark import wkb as wkbmod
    from gdal_spark.operators import vector_ops

    # unit square [0,2]x[0,2] with a 0.5x0.5 hole at upper-right
    outer = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]
    hole = [(1.25, 1.25), (1.75, 1.25), (1.75, 1.75), (1.25, 1.75)]
    g_holed = wkbmod.encode_polygon(outer, [hole])
    # concave C at center (5, 5), hw=2, hh=1
    g_c = synth.kind_geom("concave", 5.0, 5.0, 2.0, 1.0, 0)
    df = spark.createDataFrame(
        [("holed", bytearray(g_holed)), ("cshape", bytearray(g_c))],
        "poly_id string, geom_wkb binary",
    )
    out = {
        r.poly_id: (r.cen_x_key, r.cen_y_key)
        for r in vector_ops.geom_centroid(df).collect()
    }
    # holed: A = 4 - 0.25; moments: box (1,1)*4 minus hole (1.5,1.5)*0.25
    ax = (4.0 * 1.0 - 0.25 * 1.5) / 3.75
    assert out["holed"] == (
        math.floor(ax * 1e4 + 5e-4),
        math.floor(ax * 1e4 + 5e-4),
    )
    assert ax < 1.0  # shifted AWAY from the upper-right hole
    # concave: cx - hw*63/290, cy
    cx = 5.0 - 2.0 * 63.0 / 290.0
    assert out["cshape"] == (
        math.floor(cx * 1e4 + 5e-4),
        math.floor(5.0 * 1e4 + 5e-4),
    )


def test_point_on_surface_always_interior(spark):
    """The defining property (GEOS InteriorPointArea): the returned
    point is inside the polygon for EVERY kind — including concave,
    whose area centroid falls inside the notch (outside the
    polygon), and holed, whose envelope center falls in the hole."""
    from gdal_spark import geom as geommod
    from gdal_spark.operators import vector_ops

    polys = synth.polygons_df(spark, 64)
    pdf = polys.toPandas().set_index("poly_id")
    out = vector_ops.geom_point_on_surface(polys).collect()
    assert len(out) == 64
    n_centroid_outside = 0
    cen = {
        r.poly_id: (r.cen_x_key / 1e4, r.cen_y_key / 1e4)
        for r in vector_ops.geom_centroid(polys).collect()
    }
    for r in out:
        g = bytes(pdf.loc[r.poly_id, "geom_wkb"])
        px = np.array([r.pos_x_key / 1e4])
        py = np.array([r.pos_y_key / 1e4])
        assert geommod.points_in_wkb(px, py, g)[0], (
            r.poly_id,
            pdf.loc[r.poly_id, "kind"],
        )
        cx, cy = cen[r.poly_id]
        if not geommod.points_in_wkb(
            np.array([cx]), np.array([cy]), g
        )[0]:
            n_centroid_outside += 1
    # every 16th synth polygon is the concave "C" whose centroid
    # lies in the notch — the case PointOnSurface exists for
    assert n_centroid_outside >= 4


# ---------------------------------------------------------------------------
# hexagonal cell assignment (hexcell.py)


def _hex_assign_py(lon, lat, size):
    """Pure-python replay of hexcell.hex_fragments semantics."""
    fq = (math.sqrt(3.0) / 3.0 * lon - lat / 3.0) / size
    fr = (2.0 * lat / 3.0) / size
    fx, fz = fq, fr
    fy = -fx - fz
    rx, ry, rz = (math.floor(v + 0.5) for v in (fx, fy, fz))
    dx, dy, dz = abs(rx - fx), abs(ry - fy), abs(rz - fz)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dy > dz:
        ry = -rx - rz
    else:
        rz = -rx - ry
    return int(rx), int(rz)


def test_hex_cube_round_is_nearest_center():
    """Voronoi property: cube rounding assigns each point to the
    nearest hex center in the Euclidean plane (strict for
    general-position points; ties broken consistently)."""
    from gdal_spark import hexcell

    size = hexcell.HEX_SIZE_DEG
    rng = np.random.default_rng(42)
    pts = rng.uniform(-10.0, 10.0, size=(500, 2))
    for lon, lat in pts:
        q, r = _hex_assign_py(lon, lat, size)
        cx, cy = hexcell.hex_center(q, r, size)
        d0 = (lon - cx) ** 2 + (lat - cy) ** 2
        for dq in range(-2, 3):
            for dr in range(-2, 3):
                if dq == 0 and dr == 0:
                    continue
                ox, oy = hexcell.hex_center(q + dq, r + dr, size)
                d1 = (lon - ox) ** 2 + (lat - oy) ** 2
                assert d0 <= d1 + 1e-12, (lon, lat, q, r, dq, dr)


def test_hex_assign_spark_matches_python_replay(spark):
    """The staged Catalyst expressions reproduce the python replay
    bit-for-bit, and packed hex_id is injective over (q, r)."""
    from gdal_spark import hexcell

    imgs = synth.images_df(spark, 512)
    rows = hexcell.assign_hex(imgs).collect()
    assert len(rows) == 512
    seen = {}
    pdf = imgs.select("image_id", "lon", "lat").toPandas().set_index("image_id")
    for row in rows:
        lon = float(pdf.loc[row.image_id, "lon"])
        lat = float(pdf.loc[row.image_id, "lat"])
        q, r = _hex_assign_py(lon, lat, hexcell.HEX_SIZE_DEG)
        assert (row.hexq, row.hexr) == (q, r)
        key = (row.hexq, row.hexr)
        if key in seen:
            assert seen[key] == row.hex_id
        else:
            seen[key] = row.hex_id
    assert len(set(seen.values())) == len(seen)


# ---------------------------------------------------------------------------
# blur detection: variance of Laplacian (curation.blur_laplacian)


def _lap_stats_brute(a):
    """Per-pixel python loop ground truth over channel 0 interior."""
    h, w = a.shape
    laps = []
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            laps.append(
                4 * int(a[y, x])
                - int(a[y - 1, x]) - int(a[y + 1, x])
                - int(a[y, x - 1]) - int(a[y, x + 1])
            )
    n = len(laps)
    s = sum(laps)
    sq = sum(v * v for v in laps)
    return n, s, sq, n * sq - s * s


def test_blur_laplacian_matches_bruteforce(spark):
    from gdal_spark import codecs
    from gdal_spark.operators.curation import blur_laplacian

    imgs = synth.add_pixels(synth.images_df(spark, 8))
    rows = {r.image_id: r for r in blur_laplacian(imgs).collect()}
    raw = {r.image_id: bytes(r.bytes) for r in imgs.select("image_id", "bytes").collect()}
    assert len(rows) == 8
    for image_id, payload in raw.items():
        a = codecs.decode_image(payload)[:, :, 0]
        n, s, sq, var_n2 = _lap_stats_brute(a)
        r = rows[image_id]
        assert (r.n_px, r.lap_sum, r.lap_sumsq, r.var_n2) == (n, s, sq, var_n2)


def test_blur_laplacian_flat_image_not_sharp():
    """A constant image has zero Laplacian everywhere -> var 0 ->
    is_sharp false; a checkerboard is maximally sharp."""
    from gdal_spark.operators.curation import SHARP_VAR_MIN

    flat = np.full((8, 8), 77, dtype=np.int64)
    n, s, sq, var_n2 = _lap_stats_brute(flat)
    assert (s, sq, var_n2) == (0, 0, 0)
    assert not var_n2 >= SHARP_VAR_MIN * n * n
    cb = ((np.add.outer(np.arange(8), np.arange(8)) % 2) * 255).astype(np.int64)
    n, s, sq, var_n2 = _lap_stats_brute(cb)
    assert var_n2 >= SHARP_VAR_MIN * n * n


# ---------------------------------------------------------------------------
# hsv_merge (enhance._hsv_merge_bands)


def test_hsv_merge_matches_colorsys():
    """Independent check: python stdlib colorsys implements the same
    HSV round-trip with different op order/scaling; results agree to
    <=1 (truncation-boundary ulps)."""
    import colorsys

    from gdal_spark.operators.enhance import _hsv_merge_bands

    rng = np.random.default_rng(7)
    r, g, b = (rng.integers(0, 256, 400).astype(np.int64) for _ in range(3))
    gray = rng.integers(1, 256, 400).astype(np.int64)
    r2, g2, b2 = _hsv_merge_bands(r, g, b, gray)
    for k in range(400):
        if max(r[k], g[k], b[k]) == 0:
            expect = (gray[k], gray[k], gray[k])
        else:
            h, s, _ = colorsys.rgb_to_hsv(
                r[k] / 255.0, g[k] / 255.0, b[k] / 255.0
            )
            rr, gg, bb = colorsys.hsv_to_rgb(h, s, gray[k] / 255.0)
            expect = (int(rr * 255.0), int(gg * 255.0), int(bb * 255.0))
        got = (int(r2[k]), int(g2[k]), int(b2[k]))
        assert all(abs(a - e) <= 1 for a, e in zip(got, expect)), (
            k, (int(r[k]), int(g[k]), int(b[k]), int(gray[k])), got, expect
        )


def test_hsv_merge_invariants():
    """V-replacement: output max channel == gray exactly; grey input
    stays grey; the multiplicative identity gray*c/maxc holds to <=1."""
    from gdal_spark.operators.enhance import _hsv_merge_bands

    rng = np.random.default_rng(11)
    r, g, b = (rng.integers(0, 256, 1000).astype(np.int64) for _ in range(3))
    gray = rng.integers(1, 256, 1000).astype(np.int64)
    r2, g2, b2 = _hsv_merge_bands(r, g, b, gray)
    assert (np.maximum(r2, np.maximum(g2, b2)) == gray).all()
    maxc = np.maximum(r, np.maximum(g, b))
    for c, c2 in ((r, r2), (g, g2), (b, b2)):
        ident = np.trunc(
            gray * c / np.where(maxc == 0, 1, maxc)
        ).astype(np.int64)
        ident = np.where(maxc == 0, gray, ident)
        assert np.abs(c2 - ident).max() <= 1
    gr = np.full(16, 99, dtype=np.int64)
    gv = np.arange(1, 17, dtype=np.int64) * 15
    rr, gg, bb = _hsv_merge_bands(gr, gr, gr, gv)
    assert (rr == gv).all() and (gg == gv).all() and (bb == gv).all()


# ---------------------------------------------------------------------------
# VRT kernel filter (convfilter._responses)


def test_kernel_filter_matches_bruteforce():
    """Per-pixel python loop over both kernels, including the
    reference's normalize-by-kernel-sum division (vrtfilters.cpp
    FilterData)."""
    from gdal_spark.operators.convfilter import _responses

    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, (9, 12)).astype(np.int64)
    sharpen, blur_key = _responses(a)
    for y in range(1, 8):
        for x in range(1, 11):
            s = 5 * a[y, x] - a[y - 1, x] - a[y + 1, x] - a[y, x - 1] - a[y, x + 1]
            win = sum(
                int(a[y + dy, x + dx]) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
            )
            assert sharpen[y - 1, x - 1] == s
            assert blur_key[y - 1, x - 1] == math.floor(win / 9.0 * 10000.0)


# ---------------------------------------------------------------------------
# gdal_lut (translate.lut_apply semantics)


def test_lut_sql_semantics():
    """In-range values map through the table, out-of-range pass
    through — replayed in pure python against the SQL fragment via
    duckdb."""
    import duckdb

    from gdal_spark.operators.translate import DEFAULT_LUT, _lut_sql

    expr = _lut_sql("duckdb", DEFAULT_LUT)
    got = duckdb.sql(
        f"SELECT val, {expr} AS out FROM (SELECT unnest(range(0, 256)) AS val)"
    ).fetchall()
    for val, out in got:
        expect = DEFAULT_LUT[val] if val < len(DEFAULT_LUT) else val
        assert out == expect, (val, out, expect)


# ---------------------------------------------------------------------------
# JPEG blockiness (curation.jpeg_blockiness)


def test_blockiness_discriminates_quantized_grid():
    """A raster with hard jumps exactly at 8-aligned column
    boundaries reads blocky; a smooth ramp does not."""
    from gdal_spark.operators.curation import BLOCKY_RATIO_X10

    def partials(a):
        a = a.astype(np.int64)
        grad = np.abs(a[:, 1:] - a[:, :-1])
        xs = np.arange(grad.shape[1])
        bmask = xs % 8 == 7
        return (
            int(bmask.sum()) * grad.shape[0],
            int(grad[:, bmask].sum()),
            int((~bmask).sum()) * grad.shape[0],
            int(grad[:, ~bmask].sum()),
        )

    blocky_img = np.repeat(np.arange(4) * 60, 8)[None, :].repeat(8, axis=0)
    b_n, b_sum, i_n, i_sum = partials(blocky_img)
    assert b_sum * i_n * 10 > BLOCKY_RATIO_X10 * i_sum * b_n

    ramp = np.tile(np.arange(32) * 4, (8, 1))
    b_n, b_sum, i_n, i_sum = partials(ramp)
    assert not (b_sum * i_n * 10 > BLOCKY_RATIO_X10 * i_sum * b_n)


# ---------------------------------------------------------------------------
# hex polyfill + hex-keyed spatial join (hexcell)


def test_hex_polyfill_cell_count_tracks_area(spark):
    """containsCenter cover: n_cells * hex_area ~= polygon area for
    boxes much larger than one hex (boundary effect bounded by the
    perimeter band)."""
    from gdal_spark import hexcell

    m = 64
    cells_pdf = hexcell._polyfill_cells_df(spark, m).toPandas()
    hex_area = 1.5 * math.sqrt(3.0) * hexcell.HEX_SIZE_DEG ** 2
    j, cx, cy, hw, hh = synth._poly_params(m)
    checked = 0
    for jj in range(m):
        if synth.polygon_kind(jj) != "box" or min(hw[jj], hh[jj]) < 2.0:
            continue
        n_cells = int((cells_pdf["j"] == jj).sum())
        area = 4.0 * hw[jj] * hh[jj]
        # perimeter band of one hex diameter bounds the error
        band = 2.0 * (2 * hw[jj] + 2 * hh[jj]) * 2.0 * hexcell.HEX_SIZE_DEG
        assert abs(n_cells * hex_area - area) <= band, (jj, n_cells, area)
        checked += 1
    assert checked >= 5


def test_hex_join_exact_away_from_boundary(spark):
    """The hex-keyed join equals exact PIP for points farther than
    one hex diameter from any box boundary (the H3 center-rule only
    bends outcomes in the boundary band)."""
    from gdal_spark import hexcell

    n, m = 512, 64
    imgs = synth.images_df(spark, n)
    pts = hexcell.assign_hex(imgs)
    cover = hexcell._polyfill_cells_df(spark, m)
    got = {
        (r.image_id, int(r.j))
        for r in pts.join(
            cover, (pts.hexq == cover.hq) & (pts.hexr == cover.hr)
        ).select("image_id", "j").collect()
    }
    ipdf = imgs.select("image_id", "lon", "lat").toPandas()
    j, cx, cy, hw, hh = synth._poly_params(m)
    dia = 2.0 * hexcell.HEX_SIZE_DEG
    n_interior = 0
    for _, row in ipdf.iterrows():
        for jj in range(m):
            if synth.polygon_kind(jj) not in ("box", "hot_box"):
                continue
            dx = abs(row.lon - cx[jj])
            dy = abs(row.lat - cy[jj])
            if dx < hw[jj] - dia and dy < hh[jj] - dia:
                assert (row.image_id, jj) in got, (row.image_id, jj)
                n_interior += 1
            elif dx > hw[jj] + dia or dy > hh[jj] + dia:
                assert (row.image_id, jj) not in got
    assert n_interior >= 3


def test_hex_join_plan_is_broadcast_equi_join(spark):
    from gdal_spark import hexcell

    imgs = synth.images_df(spark, 256)
    plan = hexcell.hex_spatial_join(spark, imgs, 64)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# contrastive hard-negative mining (ann.hard_negatives)


def test_hard_negatives_bruteforce(spark, monkeypatch):
    """Every returned negative has a different label, and per anchor
    the ranked list equals the numpy argsort of cosine over the
    different-label subset."""
    from tests.conftest import SF_DIR

    from gdal_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    monkeypatch.setattr(ann, "N_QUERIES", 4)
    got = ann.hard_negatives(emb).collect()
    vecs = {
        r.vec_id: np.array(r.vs, dtype=np.int64)
        for r in ann._vectors(emb).collect()
    }
    assert got
    for qid in {r.qid for r in got}:
        ranked = sorted(
            (r for r in got if r.qid == qid), key=lambda r: r.rank
        )
        assert all(
            r.vec_id % ann.N_NEG_CLASSES != qid % ann.N_NEG_CLASSES
            for r in ranked
        )
        qv = vecs[qid]
        na = float(qv @ qv)
        cands = []
        for vid, vv in vecs.items():
            if vid % ann.N_NEG_CLASSES == qid % ann.N_NEG_CLASSES:
                continue
            nb = float(vv @ vv)
            key = math.floor(
                1e6 * float(qv @ vv) / (math.sqrt(na) * math.sqrt(nb))
            )
            cands.append((-key, vid))
        cands.sort()
        assert [r.vec_id for r in ranked] == [v for _, v in cands[:5]]


# ---------------------------------------------------------------------------
# colorfulness (curation._colorfulness_key)


def test_colorfulness_discriminates_grey_vs_saturated():
    """Grey images score 0; a saturated red field scores high; the
    key matches a float reference computation of the published
    formula."""
    from gdal_spark.operators.curation import _colorfulness_key

    def partials(img):
        a = img.astype(np.int64)
        rg = a[:, :, 0] - a[:, :, 1]
        yb2 = a[:, :, 0] + a[:, :, 1] - 2 * a[:, :, 2]
        return (
            rg.size, int(rg.sum()), int((rg * rg).sum()),
            int(yb2.sum()), int((yb2 * yb2).sum()),
        )

    grey = np.full((8, 8, 3), 120, dtype=np.int64)
    assert _colorfulness_key(*partials(grey)) == 0

    red = np.zeros((8, 8, 3), dtype=np.int64)
    red[:, :, 0] = 255
    k_red = _colorfulness_key(*partials(red))
    # reference float computation: sigma=0 (constant), mu_rg=255,
    # mu_yb=127.5 -> M = 0.3*sqrt(255^2+127.5^2)
    expect = math.floor(0.3 * math.sqrt(255.0**2 + 127.5**2) * 10000.0)
    assert abs(k_red - expect) <= 1
    assert k_red > 500000

    rng = np.random.default_rng(5)
    noisy = rng.integers(0, 256, (16, 16, 3))
    n, s_rg, sq_rg, s_yb2, sq_yb2 = partials(noisy)
    # brute-force float formula over the raw channels
    rg = (noisy[:, :, 0] - noisy[:, :, 1]).astype(np.float64)
    yb = (noisy[:, :, 0] + noisy[:, :, 1]) / 2.0 - noisy[:, :, 2]
    m = math.sqrt(rg.var() + yb.var()) + 0.3 * math.sqrt(
        rg.mean() ** 2 + yb.mean() ** 2
    )
    got = _colorfulness_key(n, s_rg, sq_rg, s_yb2, sq_yb2)
    assert abs(got - math.floor(m * 10000.0)) <= 2


# ---------------------------------------------------------------------------
# image entropy (curation.image_entropy key math)


def test_entropy_key_properties():
    """Flat image -> 0 bits; uniform 256-value image -> ~8e6 key;
    key tracks scipy-free reference computation."""
    import math as _m

    ln2 = _m.log(2.0)

    def key_of(hist, n):
        key = 0
        for c in hist:
            if c == 0:
                continue
            p = c / n
            key += _m.floor(-1e6 * p * (_m.log(p) / ln2))
        return key

    assert key_of([64], 64) == 0
    uni = [1] * 256
    k = key_of(uni, 256)
    assert abs(k - 8_000_000) <= 256  # floor slack, one per bin
    half = [2] * 128
    k2 = key_of(half, 256)
    assert abs(k2 - 7_000_000) <= 128
    assert k2 < k


# ---------------------------------------------------------------------------
# SQ8 + truncated rerank (ann.sq8_topk / ann.ann_rerank_topk)


def test_sq8_recall_and_code_bounds(spark, monkeypatch):
    """SQ8 reconstruction error is bounded by one quantization step
    per dim, and top-1 recall vs exact cosine-by-dot is high on the
    synth embeddings."""
    from tests.conftest import SF_DIR

    from gdal_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    monkeypatch.setattr(ann, "TOP_K", 1)
    monkeypatch.setattr(ann, "N_QUERIES", 8)
    sq = {(r.qid, r.rank): r.vec_id
          for r in ann.sq8_topk(emb).collect()}
    vecs = {r.vec_id: np.array(r.vs, dtype=np.int64)
            for r in ann._vectors(emb).collect()}
    ids = sorted(vecs)
    mat = np.stack([vecs[i] for i in ids])
    hits = 0
    for qid in range(8):
        dots = mat @ vecs[qid]
        dots[ids.index(qid)] = np.iinfo(np.int64).min
        best = ids[int(np.argmax(dots))]
        hits += int(sq[(qid, 1)] == best)
    assert hits >= 6  # 8-bit per-dim quantization: near-exact dot


def test_rerank_equals_exact_topk(spark, monkeypatch):
    """With a shortlist this deep on smooth synth embeddings the
    two-stage rerank reproduces the exact cosine top-k."""
    from tests.conftest import SF_DIR

    from gdal_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    monkeypatch.setattr(ann, "N_QUERIES", 8)
    exact = {(r.qid, r.rank): r.vec_id
             for r in ann.cosine_topk(emb).collect()}
    rr = {(r.qid, r.rank): r.vec_id
          for r in ann.ann_rerank_topk(emb).collect()}
    assert all(exact[k2] == rr.get(k2) for k2 in exact)


# ---------------------------------------------------------------------------
# plan shapes for the final-session operators


def test_sq8_plan_no_cartesian(spark):
    from tests.conftest import SF_DIR

    from gdal_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = ann.sq8_topk(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # stats + query dims ride broadcasts; codes join them map-side
    assert "BroadcastHashJoin" in plan


def test_hex_polyfill_plan_is_pure_codegen(spark):
    """No Python/Arrow stage anywhere in the polyfill plan — the
    cover build fuses into codegen like s2_cell_assign."""
    from gdal_spark import hexcell

    plan = hexcell._polyfill_cells_df(spark, 64)._jdf.queryExecution(
    ).executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapsInPandas",
                   "MapInPandas"):
        assert marker not in plan, marker
    assert "*(1)" in plan  # whole-stage codegen span


def test_pca_pc1_matches_float_eigensolver(spark):
    """The integer power-iteration axis must agree with numpy's float
    eigensolver: per-vector scores correlate ~1 with the float PCA
    projection (sign-fixed), and beat every coordinate axis."""
    from gdal_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = ann.pca_pc1(emb).toPandas().sort_values("vec_id")
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").sort_values(
        "vec_id"
    )
    X = np.stack(pdf["embedding"].values).astype(np.float64)
    Xc = X - X.mean(axis=0)
    evals, evecs = np.linalg.eigh(Xc.T @ Xc)
    axis = evecs[:, -1]
    ref = Xc @ axis
    corr = np.corrcoef(got["pc1"].to_numpy(dtype=np.float64), ref)[0, 1]
    assert abs(corr) > 0.999
    # dominant axis explains more variance than any coordinate axis
    assert ref.var() >= Xc.var(axis=0).max() - 1e-9
    assert got["pc1"].to_numpy(dtype=np.float64).var() > 0


def test_ogr_special_fields_wkt_roundtrip(spark):
    """geom_wkt parses back to the source ring (micro-degree floor of
    the WKB coordinates), fid is the feature index, and the
    OGR_GEOM_AREA flag matches the shoelace of the parsed ring."""
    from gdal_spark import wkb as wkbmod
    from gdal_spark.operators import vector_ops

    polys = synth.polygons_df(spark, 64)
    got = vector_ops.ogr_special_fields(polys).toPandas()
    src = synth.polygons_pdf(64)
    src = src[src["kind"].isin(["box", "hot_box", "triangle"])]
    assert sorted(got["fid"]) == sorted(src["j"])
    assert set(got["geom_type"]) == {"POLYGON"}
    by_id = dict(zip(src["poly_id"], src["geom_wkb"]))
    for _, r in got.iterrows():
        ring = np.array(
            [
                [float(t.split()[0]), float(t.split()[1])]
                for t in r["geom_wkt"][len("POLYGON (("):-2].split(", ")
            ]
        )
        assert (ring[0] == ring[-1]).all()  # closed
        raw = np.array(
            [
                [x, y]
                for x, y in vector_ops._ring_array(
                    wkbmod.polygon_rings(bytes(by_id[r["poly_id"]]))[0]
                )
            ]
        )
        assert np.array_equal(ring[:-1], np.floor(raw * 1e6))
        area_ud = abs(vector_ops.shoelace_area(raw))
        assert r["big_area"] == int(
            int(np.floor(area_ud * 1e3 + 1e-6)) > 50_000
        )


def test_integral_image_matches_cumsum(spark):
    """SAT equals numpy's double cumsum at every sampled site, and a
    box sum recovered from 4 SAT corners equals the direct box sum."""
    from gdal_spark import codecs
    from gdal_spark.operators import rastertable

    imgs = synth.add_pixels(
        spark.sql(synth.images_cte(64, "spark")).filter("i < 3")
    )
    got = rastertable.integral_image(imgs).toPandas()
    pdf = synth.images_pdf(3)
    for _, img in pdf.iterrows():
        arr = codecs.decode_image(
            codecs.encode_image(
                codecs.make_pixels(int(img["i"]), int(img["w"]),
                                   int(img["h"])), img["fmt"]
            )
        )
        v = arr[:, :, 0].astype(np.int64)
        sat = v.cumsum(axis=0).cumsum(axis=1)
        sub = got[got["image_id"] == img["image_id"]]
        assert len(sub) > 0
        for _, r in sub.iterrows():
            assert r["sat"] == sat[int(r["y"]), int(r["x"])]
        # box-sum identity on one interior box
        h, w = v.shape
        x0, y0, x1, y1 = 4, 4, min(12, w - 1), min(12, h - 1)
        box = (
            sat[y1, x1] - sat[y0 - 1, x1] - sat[y1, x0 - 1]
            + sat[y0 - 1, x0 - 1]
        )
        assert box == v[y0:y1 + 1, x0:x1 + 1].sum()


def test_mask_band_gmf_nodata(spark):
    """Mask = 255 where ANY band differs from the nodata tuple; a
    planted all-zero image masks fully invalid."""
    from gdal_spark import codecs
    from gdal_spark.operators import stats as statsmod

    imgs = synth.add_pixels(
        spark.sql(synth.images_cte(64, "spark")).filter("i < 8")
    )
    got = statsmod.mask_band(imgs).toPandas().set_index("image_id")
    pdf = synth.images_pdf(8)
    for _, img in pdf.iterrows():
        arr = codecs.decode_image(
            codecs.encode_image(
                codecs.make_pixels(int(img["i"]), int(img["w"]),
                                   int(img["h"])), img["fmt"]
            )
        ).astype(np.int64)
        valid = (arr != 0).any(axis=2)
        mask = np.where(valid, 255, 0)
        row = got.loc[img["image_id"]]
        assert row["n_valid"] == int(valid.sum())
        assert row["mask_cks"] == statsmod.gdal_checksum(mask)
    # an all-nodata raster masks to zero everywhere
    z = np.zeros((4, 4, 3), dtype=np.int64)
    assert statsmod.gdal_checksum(np.where((z != 0).any(axis=2), 255, 0)) == 0


def test_repeat_upsample_rule(spark):
    """Copy counts replay the ppm rule + hash remainder; copy_idx is
    dense 0..n-1 per doc."""
    from tests.conftest import SF_DIR

    from gdal_spark.operators import textops as tx

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = tx.repeat_upsample(docs).toPandas()
    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    rates = {}
    for r in pdf.itertuples(index=False):
        idx = int(r.source[3:])
        ppm = (2500000 if idx < 5 else 1500000 if idx < 10
               else 1000000 if idx < 15 else 250000)
        h = ((r.doc_id * 2654435761) % 4294967296) % 1000000
        rates[r.doc_id] = ppm // 1000000 + int(h < ppm % 1000000)
    g = got.groupby("doc_id")
    for doc_id, sub in g:
        assert len(sub) == rates[doc_id] == sub["n_copies"].iloc[0]
        assert sorted(sub["copy_idx"]) == list(range(len(sub)))
    # dropped docs are exactly the n_copies == 0 ones
    assert set(pdf["doc_id"]) - set(got["doc_id"]) == {
        d for d, n in rates.items() if n == 0
    }
    # expansion factor lands near the blended expectation
    assert got.groupby("doc_id").size().mean() > 1.0


def test_rat_table_bincount_replay(spark):
    from gdal_spark import codecs
    from gdal_spark.operators import stats as statsmod

    imgs = synth.add_pixels(
        spark.sql(synth.images_cte(64, "spark")).filter("i < 6")
    )
    got = statsmod.rat_table(imgs).toPandas()
    pdf = synth.images_pdf(6)
    for _, img in pdf.iterrows():
        arr = codecs.decode_image(
            codecs.encode_image(
                codecs.make_pixels(int(img["i"]), int(img["w"]),
                                   int(img["h"])), img["fmt"]
            )
        ).astype(np.int64)
        cls = arr[:, :, 0] // 16
        sub = got[got["image_id"] == img["image_id"]].set_index("class")
        assert sub["n_px"].sum() == arr.shape[0] * arr.shape[1]
        for c in np.unique(cls):
            m = cls == c
            assert sub.loc[c, "n_px"] == int(m.sum())
            assert sub.loc[c, "sum_b1"] == int(arr[:, :, 1][m].sum())


def test_vw_simplify_python_replay(spark):
    """Pure-Python replay of the 3-pass VW rule on each kgon ring:
    same survivor count, same quantized shoelace; simplified area
    stays within the threshold budget of the original."""
    from gdal_spark import wkb as wkbmod
    from gdal_spark.operators import vector_ops

    polys = synth.polygons_df(spark, 64)
    got = vector_ops.vw_simplify(spark, polys).toPandas().set_index(
        "poly_id"
    )
    src = synth.polygons_pdf(64)
    src = src[src["kind"] == "kgon"]
    assert len(got) == len(src)
    for r in src.itertuples(index=False):
        ring = np.array(
            vector_ops._ring_array(
                wkbmod.polygon_rings(bytes(r.geom_wkb))[0]
            )
        )
        t = 0.02 * (ring[:, 0].ptp()) * (ring[:, 1].ptp())
        keep = list(range(len(ring)))
        for _ in range(3):
            m = len(keep)
            a2 = []
            for i in range(m):
                p, c, nx = ring[keep[i - 1]], ring[keep[i]], ring[
                    keep[(i + 1) % m]
                ]
                a2.append(
                    abs((c[0] - p[0]) * (nx[1] - p[1])
                        - (nx[0] - p[0]) * (c[1] - p[1]))
                )
            cand = sorted(
                (i for i in range(m) if a2[i] < t),
                key=lambda i: (a2[i], keep[i]),
            )
            drop = set(cand[: max(0, min(len(cand), m - 4))])
            keep = [k for i, k in enumerate(keep) if i not in drop]
        row = got.loc[r.poly_id]
        assert row["n_vertices"] == len(keep), r.poly_id
        term = 0
        for i in range(len(keep)):
            x, y = ring[keep[i]]
            nx_, ny_ = ring[keep[(i + 1) % len(keep)]]
            term += int(np.floor((x * ny_ - nx_ * y) * 1e6))
        assert row["area2_key"] == term, r.poly_id
        assert row["n_vertices"] >= 4


def test_mdim_resampled_numpy_replay(spark):
    """GetResampled average decimation vs a direct numpy block-mean
    replay of the synthesized cube (r5; gdalmultidim.cpp:7502)."""
    import numpy as np

    from gdal_spark.operators import mdim as mdim_op

    nt, ny, nx, fy, fx = 4, 64, 64, 2, 4
    rows = mdim_op.mdim_resampled(spark, nt, ny, nx, fy, fx).collect()
    t, y, x = np.meshgrid(
        np.arange(nt), np.arange(ny), np.arange(nx), indexing="ij"
    )
    cube = (t * 131071 + y * 8191 + x * 127 + 7) % 251
    blocks = cube.reshape(nt, ny // fy, fy, nx // fx, fx)
    mean_u = np.floor(
        1e6 * blocks.sum(axis=(2, 4)) / float(fy * fx)
    ).astype(np.int64)
    ry, rx = np.meshgrid(
        np.arange(ny // fy), np.arange(nx // fx), indexing="ij"
    )
    assert len(rows) == nt
    for r in rows:
        m = mean_u[r["t"]]
        assert r["n_cells"] == (ny // fy) * (nx // fx)
        assert r["sum_mean_u"] == int(m.sum())
        assert r["idx_cks"] == int(((m * 13 + ry * 7 + rx) % 65536).sum() % 65536)
