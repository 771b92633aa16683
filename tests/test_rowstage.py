"""``rowstage.per_row``: the one row-at-a-time Python stage."""

from gdal_spark.operators.rowstage import per_row


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_output_columns_follow_schema_by_position(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v bigint")
    # the output names differ from the input ones and from any label the
    # frame could carry: only position ties a value to its column
    out = per_row(
        df, ["v", "k"], lambda v, k: [(k * 2, v * 10, float(v) / 4)],
        "label string, tens bigint, quarter double",
    )
    assert out.columns == ["label", "tens", "quarter"]
    assert _rows(out) == [("aa", 10, 0.25), ("bb", 20, 0.5)]


def test_rows_may_yield_none_or_several(spark):
    df = spark.createDataFrame([(0,), (1,), (3,)], "n bigint")

    def fan(n):
        for j in range(n):
            yield n, j

    out = per_row(df, ["n"], fan, "n bigint, j bigint")
    assert _rows(out) == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_empty_batches_emit_nothing(spark):
    df = spark.createDataFrame([(i,) for i in range(3)], "i bigint")
    sparse = df.repartition(8)  # more partitions than rows
    assert sparse.rdd.getNumPartitions() > df.count()
    out = per_row(sparse, ["i"], lambda i: [(i, -i)], "i bigint, neg bigint")
    assert _rows(out) == [(0, 0), (1, -1), (2, -2)]
    none = per_row(sparse, ["i"], lambda i: [], "i bigint")
    assert none.count() == 0


def test_python_ints_land_in_int_columns(spark):
    df = spark.createDataFrame([("x",)], "s string")
    out = per_row(
        df, ["s"], lambda s: [(s, 7, 2**40)], "s string, small int, big bigint"
    )
    assert dict(out.dtypes) == {"s": "string", "small": "int", "big": "bigint"}
    assert _rows(out) == [("x", 7, 2**40)]
