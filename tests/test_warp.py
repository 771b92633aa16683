"""Warp resampler parity against the reference's OWN golden fixtures.

Each case loads a warped-VRT description from
/root/reference/autotest/alg/data (read-only public test data), runs
our numpy warp engine with the same src/dst geotransforms and
resampler, and compares against the paired golden TIFF with the SAME
maxdiff<=1 gate the reference test uses (autotest/alg/warp.py)."""

import re
from pathlib import Path

import numpy as np
import pytest

from gdal_spark import resample
from tests.conftest import reference_file
from tests.tiffio import read_tiff

DATA = Path("/root/reference/autotest/alg/data")

ALG_MAP = {
    "NearestNeighbour": "near",
    "Bilinear": "bilinear",
    "Cubic": "cubic",
    "CubicSpline": "cubicspline",
    "Lanczos": "lanczos",
    "Average": "average",
    "Mode": "mode",
    "Max": "max",
    "Maximum": "max",
    "Min": "min",
    "Minimum": "min",
    "Med": "med",
    "Median": "med",
    "Q1": "q1",
    "Quartile1": "q1",
    "Q3": "q3",
    "Quartile3": "q3",
    "Sum": "sum",
    "RMS": "rms",
}


def parse_vrt(path: Path):
    text = reference_file(path).read_text()

    def grab(pat):
        m = re.search(pat, text)
        return m.group(1) if m else None

    w = int(grab(r'rasterXSize="(\d+)"'))
    h = int(grab(r'rasterYSize="(\d+)"'))
    alg = ALG_MAP[grab(r"<ResampleAlg>(\w+)</ResampleAlg>")]
    m = re.search(
        r'<SourceDataset relativeToVRT="([01])">([^<]+)</SourceDataset>', text
    )
    rel_to_vrt, src_rel = m.group(1) == "1", m.group(2)
    src_gt = tuple(
        float(v) for v in grab(r"<SrcGeoTransform>([^<]+)</SrcGeoTransform>").split(",")
    )
    dst_gt = tuple(
        float(v) for v in grab(r"<DstGeoTransform>([^<]+)</DstGeoTransform>").split(",")
    )
    # relativeToVRT="0" paths are relative to the autotest/alg run dir
    base = path.parent if rel_to_vrt else path.parent.parent
    src_path = (base / src_rel).resolve()
    return {
        "dst_shape": (h, w),
        "alg": alg,
        "src": src_path,
        "src_gt": src_gt,
        "dst_gt": dst_gt,
    }


# (vrt, golden) pairs exactly as asserted in autotest/alg/warp.py
GOLDEN_CASES = [
    ("utmsmall_near.vrt", "utmsmall_near.tiff"),  # test_warp_1
    ("utmsmall_blinear.vrt", "utmsmall_blinear.tiff"),  # test_warp_2
    ("utmsmall_bilinear_2.vrt", "utmsmall_bilinear_2.tif"),  # warp_2_downsize
    ("utmsmall_cubic.vrt", "utmsmall_cubic.tiff"),  # test_warp_3
    ("utmsmall_cubic_2.vrt", "utmsmall_cubic_2.tif"),  # warp_3_downsize
    ("utmsmall_cubicspline.vrt", "utmsmall_cubicspline.tiff"),  # test_warp_4
    ("utmsmall_cubicspline_2.vrt", "utmsmall_cubicspline_2.tif"),
    ("utmsmall_lanczos.vrt", "utmsmall_lanczos.tiff"),  # test_warp_5
    ("utmsmall_lanczos_2.vrt", "utmsmall_lanczos_2.tif"),  # warp_5_downsize
    ("utmsmall_ds_cubicspline.vrt", "utmsmall_ds_cubicspline.tiff"),  # warp_9
    ("utmsmall_ds_lanczos.vrt", "utmsmall_ds_lanczos.tiff"),  # test_warp_10
    ("utmsmall_average.vrt", "utmsmall_average.tiff"),
    ("utmsmall_mode.vrt", "utmsmall_mode.tiff"),
    ("utmsmall_max.vrt", "utmsmall_max.tif"),
    ("utmsmall_min.vrt", "utmsmall_min.tif"),
    ("utmsmall_med.vrt", "utmsmall_med.tif"),
    ("utmsmall_Q1.vrt", "utmsmall_Q1.tif"),
    ("utmsmall_Q3.vrt", "utmsmall_Q3.tif"),
    ("3by3_average.vrt", "3by3_average.tif"),
    ("3by3_sum.vrt", "3by3_sum.tif"),
]


@pytest.mark.parametrize("vrt,golden", GOLDEN_CASES, ids=[c[0] for c in GOLDEN_CASES])
def test_warp_golden_parity(vrt, golden):
    cfg = parse_vrt(DATA / vrt)
    src = read_tiff(str(reference_file(cfg["src"])))
    ref = read_tiff(str(reference_file(DATA / golden)))
    out = resample.warp_band(
        src,
        cfg["src_gt"],
        cfg["dst_gt"],
        cfg["dst_shape"],
        cfg["alg"],
        out_dtype=ref.dtype,
    )
    assert out.shape == ref.shape
    maxdiff = np.max(np.abs(out.astype(np.float64) - ref.astype(np.float64)))
    assert maxdiff <= 1, f"{vrt}: maxdiff {maxdiff} > 1"


def test_int16_neg_quantiles():
    """int16 negative-value fixtures (autotest warp Q1/Q3/min/max/med
    on utmsmall-int16-neg)."""
    for vrt, golden in [
        ("utmsmall-int16-neg_Q1.vrt", "utmsmall-int16-neg_Q1.tif"),
        ("utmsmall-int16-neg_Q3.vrt", "utmsmall-int16-neg_Q3.tif"),
        ("utmsmall-int16-neg_max.vrt", "utmsmall-int16-neg_max.tif"),
        ("utmsmall-int16-neg_min.vrt", "utmsmall-int16-neg_min.tif"),
        ("utmsmall-int16-neg_med.vrt", "utmsmall-int16-neg_med.tif"),
    ]:
        cfg = parse_vrt(DATA / vrt)
        src = read_tiff(str(reference_file(cfg["src"])))
        ref = read_tiff(str(reference_file(DATA / golden)))
        out = resample.warp_band(
            src, cfg["src_gt"], cfg["dst_gt"], cfg["dst_shape"], cfg["alg"],
            out_dtype=ref.dtype,
        )
        maxdiff = np.max(np.abs(out.astype(np.float64) - ref.astype(np.float64)))
        assert maxdiff <= 1, f"{vrt}: maxdiff {maxdiff} > 1"


def test_identity_warp_roundtrip():
    """Same-grid warp must be the identity for every resampler that
    interpolates (near/bilinear/cubic/lanczos partition of unity)."""
    rng = np.arange(400, dtype=np.uint8).reshape(20, 20) % 251
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    for alg in ("near", "bilinear", "cubic", "lanczos", "average"):
        out = resample.warp_band(rng, gt, gt, (20, 20), alg)
        assert np.array_equal(out, rng), alg


def test_nodata_mask_semantics():
    """GDALWarpNoDataMasker: nodata taps are skipped and the remaining
    weights renormalize; all-nodata neighborhoods emit nodata."""
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    gt_half = (0.0, 2.0, 0.0, 0.0, 0.0, -2.0)
    # 4x4 with one nodata per 2x2 block (value 0)
    src = np.array(
        [
            [0, 10, 20, 30],
            [40, 50, 60, 0],
            [0, 0, 100, 200],
            [0, 0, 50, 150],
        ],
        dtype=np.uint8,
    )
    out = resample.warp_band(src, gt, gt_half, (2, 2), "average", nodata=0)
    # block means over valid taps only, floor(x+0.5)
    assert out[0, 0] == int(np.floor((10 + 40 + 50) / 3 + 0.5))
    assert out[0, 1] == int(np.floor((20 + 30 + 60) / 3 + 0.5))
    assert out[1, 0] == 0  # all-nodata block stays nodata
    assert out[1, 1] == int(np.floor((100 + 200 + 50 + 150) / 4 + 0.5))
    # without the mask, zeros dilute the mean
    plain = resample.warp_band(src, gt, gt_half, (2, 2), "average")
    assert plain[0, 0] == int(np.floor((0 + 10 + 40 + 50) / 4 + 0.5))


def test_nodata_near_and_bilinear():
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    src = np.array([[0, 100], [100, 100]], dtype=np.uint8)
    # near identity: the nodata pixel propagates as nodata
    out = resample.warp_band(src, gt, gt, (2, 2), "near", nodata=0)
    assert out[0, 0] == 0 and out[0, 1] == 100
    # bilinear at the center of the 2x2: with the mask, the three
    # valid taps renormalize to exactly 100
    gt_mid = (0.5, 1.0, 0.0, -0.5, 0.0, -1.0)
    out2 = resample.warp_band(src, gt, gt_mid, (1, 1), "bilinear", nodata=0)
    assert out2[0, 0] == 100
    plain = resample.warp_band(src, gt, gt_mid, (1, 1), "bilinear")
    assert plain[0, 0] == 75  # unmasked: 0 drags the mean down
