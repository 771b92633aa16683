"""The connected-components engine: partition scaling, component
correctness at a non-default input partitioning, the numpy / Spark /
SQL layers pinned to one labelling, and the Spark round cap."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from gdal_spark import graphsql
from gdal_spark.graphsql import fixpoint_parts


def test_fixpoint_parts_tracks_input(spark):
    """The merge-round label tables inherit the input's parallelism
    (round-2 hardcoded coalesce(8); at 100x scale the label table must
    keep its partitions) with the sandbox floor of 8."""
    df = spark.range(1000)
    assert fixpoint_parts(df.repartition(40)) == 40
    assert fixpoint_parts(df.repartition(2)) == 8  # floor
    assert fixpoint_parts(df.coalesce(1)) == 8


def test_dedup_clusters_partition_invariant(spark):
    """Same clusters whatever the input partitioning — and the fold
    runs at >=input partitions (no hardcoded collapse)."""
    from gdal_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = (
        dedup.dedup_clusters(docs.repartition(4))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    wide = (
        dedup.dedup_clusters(docs.repartition(24))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (base.values == wide.values).all()
    assert len(base) > 0


def _graph():
    """A path over shuffled ids plus random trees (some single nodes),
    on sparse int64 ids (level-folded contour ids pass 2^40). Returns
    (ids, pairs, expected root per id) with root = smallest member."""
    rng = np.random.default_rng(11)
    ids = rng.permutation(np.unique(rng.integers(0, 1 << 45, 400)))
    path, rest = ids[:60], ids[60:]
    pairs = list(zip(path[:-1], path[1:]))
    expect = {int(n): int(path.min()) for n in path}
    group = rng.integers(0, 40, len(rest))
    for g in range(40):
        members = rest[group == g]
        pairs += [(members[k], members[rng.integers(0, k)])
                  for k in range(1, len(members))]
        expect.update({int(n): int(members.min()) for n in members})
    return ids, np.array(pairs, dtype=np.int64), expect


def test_three_engines_agree(spark):
    """The numpy kernel, the Spark rounds and the SQL chain give every
    node the same root, its component's smallest id; the keeper
    projection agrees across the two dialects."""
    ids, pairs, expect = _graph()
    uniq = np.unique(ids)
    ia, ib = np.searchsorted(uniq, pairs.T)
    labels = uniq[graphsql.union_find(len(uniq), ia, ib)]
    assert dict(zip(uniq.tolist(), labels.tolist())) == expect

    nodes = pd.DataFrame({"node": ids})
    links = pd.DataFrame(pairs, columns=["a", "b"])
    roots = graphsql.label_components(
        spark.createDataFrame(nodes), spark.createDataFrame(links)
    )
    assert {r.node: r.root for r in roots.collect()} == expect

    con = duckdb.connect()
    con.register("nodes", nodes)
    sym = np.concatenate([pairs, pairs[:, ::-1]])
    con.register("links", pd.DataFrame(sym, columns=["a", "b"]))
    chain, final = graphsql.pj_components_cte()
    sql = con.execute(f"WITH {chain} SELECT node, root FROM {final}").fetchall()
    assert dict(sql) == expect

    got = graphsql.keepers(roots, "doc_id").toPandas()
    want = con.execute(
        f"WITH {chain} {graphsql.keepers_sql(final, 'doc_id')}"
    ).fetchdf()
    cols = ["doc_id", "cluster_id", "cluster_size", "is_keeper"]
    assert list(got.columns) == list(want.columns) == cols
    assert sorted(got.itertuples(index=False, name=None)) == sorted(
        want.itertuples(index=False, name=None)
    )
    assert int(got["is_keeper"].sum()) == len(set(expect.values()))


def test_label_components_raises_without_fixpoint(spark, monkeypatch):
    """A round cap reached while labels still move is an error, not an
    unconverged answer."""
    monkeypatch.setattr(graphsql, "SPARK_ROUNDS", 1)
    nodes = spark.range(8).selectExpr("id AS node")
    pairs = spark.range(7).selectExpr("id AS a", "id + 1 AS b")
    with pytest.raises(RuntimeError, match="after 1 rounds"):
        graphsql.label_components(nodes, pairs)
