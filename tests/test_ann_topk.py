"""The ANN family's one ranking contract: ``ann._top_k`` (Spark) and
``ann._top_k_sql`` (DuckDB) keep the same rows with the same ranks
when keys tie across ids, for the descending cosine order and the
ascending distance order. Every ranked ANN stage and its oracle rank
through this pair."""

import duckdb
import pandas as pd
import pytest

from gdal_spark.operators import ann

# keys tie across ids inside each group; ids are not in key order
ROWS = [
    (qid, vec_id, cos_key + qid, adc)
    for qid in (0, 1)
    for vec_id, cos_key, adc in [
        (7, 500, 3), (2, 500, 3), (9, 900, 1), (4, 500, 1),
        (0, 900, 3), (5, 100, 2), (3, 100, 2), (8, 500, 2),
    ]
]


def _expected(order, k):
    key, desc = order[0].split()[0], order[0].endswith(" DESC")
    col = {"cos_key": 2, "adc": 3}[key]
    out = []
    for qid in (0, 1):
        rows = sorted(
            (r for r in ROWS if r[0] == qid),
            key=lambda r: (-r[col] if desc else r[col], r[1]),
        )
        out += [(qid, rank, r[1]) for rank, r in enumerate(rows[:k], 1)]
    return out


@pytest.mark.parametrize("order", [ann.BY_COS, ann.BY_ADC])
@pytest.mark.parametrize("k", [1, 3, 10])
def test_top_k_spark_and_duckdb_agree_on_ties(spark, order, k):
    pdf = pd.DataFrame(ROWS, columns=["qid", "vec_id", "cos_key", "adc"])
    cols = ["qid", "rank", "vec_id"]
    got = ann._top_k(spark.createDataFrame(pdf), ["qid"], order, k).toPandas()
    con = duckdb.connect()
    con.register("scored", pdf)
    oracle = con.execute(ann._top_k_sql("scored", ["qid"], order, k)).fetchdf()
    want = _expected(order, k)
    assert sorted(got[cols].itertuples(index=False, name=None)) == want
    assert sorted(oracle[cols].itertuples(index=False, name=None)) == want
    assert str(got["rank"].dtype) == str(oracle["rank"].dtype) == "int32"
