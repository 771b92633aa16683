"""Connected components: the one engine at each layer.

Every layer labels a component with its smallest node id:

- numpy: :func:`union_find` over nodes ``0..n-1`` (per-tile labelling in
  polygonize, sieve and contour's tile stage);
- Spark: :func:`label_components` over a distributed ``(node)`` table
  and ``(a, b)`` pair table, returning ``(node, root)``;
- SQL: :func:`pj_components_cte`, the unrolled DuckDB round chain; the
  caller provides CTEs ``nodes(node)`` and ``links(a, b)`` (symmetric),
  appends the chain and reads ``(node, root)`` from the final relation.

A graph keyed by something else (contour's iso level) folds the key
into the node id, so no engine takes a key. :func:`keepers` /
:func:`keepers_sql` project the labels to the dedup cluster rows.

MATERIALIZED is load-bearing: DuckDB 1.0 inlines CTEs, so a chained
self-referencing pipeline re-expands exponentially without it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

# Spark round cap: label_components raises when the labels still move
# after this many rounds.
SPARK_ROUNDS = 40

# unrolled SQL rounds: footprint's winding 704-px component needs 48
# (tests/test_footprint.py pins convergence against a BFS).
SQL_ROUNDS = 64


def union_find(n: int, a, b) -> np.ndarray:
    """labels[i] = smallest node of i's component, for nodes
    ``0..n-1`` and edges ``(a[k], b[k])``. Vectorised union-find: each
    round hooks the larger root of every edge that still spans two
    trees under the smaller one (so a root is its tree's minimum),
    then compresses every path to its root."""
    parent = np.arange(n, dtype=np.int64)
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return parent
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def fixpoint_parts(df, floor_parts: int = 8) -> int:
    """Partition count for the pointer-jump fixpoint label tables:
    inherit the driving input's parallelism — at 100x scale a
    billion-node label table must keep its partitions, not collapse
    into a hardcoded handful — with a small floor so sandbox-sized
    rounds don't schedule hundreds of empty tasks."""
    try:
        return max(floor_parts, df.rdd.getNumPartitions())
    except Exception:  # pragma: no cover - defensive (plan conversion)
        return floor_parts


def label_components(nodes, pairs):
    """(node, root) for every row of ``nodes`` (one row per node id),
    with root = smallest node of its component under the ``(a, b)``
    pairs. Each round takes the neighbour minimum, then jumps every
    pointer to its root's root; each round is a distributed job whose
    label tables keep the input's partitioning (fixpoint_parts).
    Raises RuntimeError if the labels still change after
    SPARK_ROUNDS rounds."""
    nparts = fixpoint_parts(nodes)
    pairs = pairs.selectExpr("a", "b").localCheckpoint(eager=True)
    sym = (
        pairs.unionAll(pairs.selectExpr("b AS a", "a AS b"))
        .distinct()
        .coalesce(nparts)
        .localCheckpoint(eager=True)
    )
    roots = (
        nodes.selectExpr("node", "node AS root")
        .coalesce(nparts)
        .localCheckpoint(eager=True)
    )
    for _ in range(SPARK_ROUNDS):
        nbr = (
            sym.join(roots.selectExpr("node AS b", "root AS nroot"), "b")
            .groupBy("a")
            .agg(F.min("nroot").alias("min_nbr"))
        )
        half = roots.join(
            nbr.selectExpr("a AS node", "min_nbr"), "node", "left"
        ).selectExpr(
            "node", "least(root, coalesce(min_nbr, root)) AS root"
        ).coalesce(nparts).localCheckpoint(eager=True)
        # the jump side is checkpointed and renamed: a USING-list
        # self-join on a shared lazy plan can become a cross join
        jump = half.selectExpr("node AS jn", "root AS jr")
        new_roots = (
            half.join(jump, F.col("root") == F.col("jn"), "left")
            .selectExpr("node", "coalesce(jr, root) AS root")
            .coalesce(nparts)
            .localCheckpoint(eager=True)
        )
        changed = (
            new_roots.selectExpr("node", "root AS nr")
            .join(roots, "node")
            .filter("nr <> root")
            .count()
        )
        roots = new_roots
        if changed == 0:
            return roots
    raise RuntimeError(
        f"connected components still changing after {SPARK_ROUNDS} rounds"
    )


def keepers(roots, id_col: str):
    """(id_col, cluster_id, cluster_size, is_keeper) from (node, root):
    the cluster keeps its smallest member."""
    sizes = roots.groupBy("root").agg(F.count("*").alias("cluster_size"))
    return roots.join(sizes, "root").selectExpr(
        f"node AS {id_col}",
        "root AS cluster_id",
        "cluster_size",
        "cast(node = root as int) AS is_keeper",
    )


def pj_components_cte() -> tuple[str, str]:
    """Returns (cte_chain_sql, final_relation_name). Each of SQL_ROUNDS
    rounds takes the minimum root over every node's links and itself
    (``m``, the round's one materialized table), then jumps every
    pointer once (``r``, read once by the next round, so inlined)."""
    parts = [
        "self_links AS MATERIALIZED (SELECT a, b FROM links "
        "UNION ALL SELECT node, node FROM nodes)",
        "r0 AS (SELECT node, node AS root FROM nodes)",
    ]
    for k in range(SQL_ROUNDS):
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT l.a AS node, min(r.root) AS root "
            f"FROM self_links l JOIN r{k} r ON r.node = l.b GROUP BY 1),\n"
            f"r{k + 1} AS (SELECT a.node, b.root "
            f"FROM m{k} a JOIN m{k} b ON b.node = a.root)"
        )
    parts.append(f"roots AS MATERIALIZED (SELECT node, root FROM r{SQL_ROUNDS})")
    return ",\n".join(parts), "roots"


def keepers_sql(final: str, id_col: str) -> str:
    """The :func:`keepers` projection over the chain's final relation."""
    return (
        f"SELECT r.node AS {id_col}, r.root AS cluster_id, s.cluster_size,\n"
        f"       cast(r.node = r.root as int) AS is_keeper\n"
        f"FROM {final} r JOIN (SELECT root, count(*) AS cluster_size\n"
        f"  FROM {final} GROUP BY 1) s ON s.root = r.root"
    )
