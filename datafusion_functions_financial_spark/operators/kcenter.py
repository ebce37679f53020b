"""Farthest-first traversal (k-center / coreset selection) over the
embedding corpus — the greedy 2-approximation to the k-center
problem, and the standard diversity sampler for training-data subset
selection ("pick k maximally spread exemplars").

Deterministic and engine-exact: the seed is the lowest vec_id; each
round selects argmax of min-distance-to-chosen with ties broken on
the LOWER id; distances are the in-order zip_with folds (bit-identical
across engines, the embgeo/kmeans convention), so both engines select
the identical id sequence.

Plan shape at scale: round i is ONE scan computing
``least(d_1, ..., d_i)`` against i broadcast center vectors (constant
work per row) followed by a single-row argmax aggregate — k scans
total, no shuffle beyond the 1-row reductions, no pairwise anything.
The selected vectors travel driver-side as k 64-double literals
(bounded traffic, same contract as distributed_median's O(k) rows).
At very large k switch to the gonzalez-with-batching variant (select
m per round against the same distance pass); the per-round plan is
unchanged.

Output: (rank, vec_id, sel_dist) — sel_dist is the covering radius
achieved BEFORE adding that center (the classic nonincreasing
k-center profile; rank 1 is the seed with NULL). The last row's
sel_dist bounds the optimal k-center radius within 2x.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from ..functions.indicators import literal_relation
from ..plans.series import round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["kcenter_select"]

K = 8
DIM = 64

_SQDIST = ("aggregate(zip_with(embedding, {b}, (x, y) -> "
           "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
           "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
           "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")


def _lit_array(vec) -> str:
    return "array(" + ", ".join(repr(float(x)) for x in vec) + ")"


# Above this many centers the per-round min-distance expression stops
# being an inlined ``least(fold_1, ..., fold_i)`` over literal center
# arrays (whose expression tree grows O(k * dim) and eventually hits
# Catalyst's expression-size limits) and becomes a broadcast crossJoin
# against the i-row centers relation + groupBy-min (plan size constant
# in k; same arithmetic, same tie order). See SCALING.md §"k-center".
JOIN_METHOD_THRESHOLD = 100


def _min_dist(emb: DataFrame, centers: list, method: str) -> DataFrame:
    """(vec_id, __d): each vector's min squared distance to ``centers``.

    ``method="literal"`` inlines each center as a literal array in one
    ``least(...)`` expression — zero shuffle, but the expression tree
    grows with len(centers). ``method="join"`` broadcasts the centers
    as a relation and takes ``groupBy(vec_id).min`` — the min over the
    identical per-pair fold values, so bit-identical results (min is
    exact; no accumulation-order sensitivity)."""
    if method == "literal":
        mind = "least(" + ", ".join(
            _SQDIST.format(b=_lit_array(vec)) for _cid, vec in centers
        ) + ")" if len(centers) > 1 else _SQDIST.format(
            b=_lit_array(centers[0][1]))
        return emb.withColumn("__d", F.expr(mind))
    cent = literal_relation(
        emb.sparkSession,
        [(int(cid), [float(x) for x in vec]) for cid, vec in centers],
        "cid long, cvec array<double>")
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.expr(_SQDIST.format(b="cvec")).alias("__pd"),
    )
    return emb.join(
        scored.groupBy("vec_id").agg(F.min("__pd").alias("__d")),
        "vec_id")


def kcenter_select(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", k: int = K,
                   method: str = "auto") -> DataFrame:
    """(rank, vec_id, sel_dist): the farthest-first selection
    sequence. k bounded driver round-trips (one argmax row each).

    ``method``: ``"literal"`` / ``"join"`` select the min-distance
    plan shape (see ``_min_dist``); ``"auto"`` uses literal folds
    below ``JOIN_METHOD_THRESHOLD`` centers and the broadcast-join
    path beyond it. Both proven equal in
    ``tests/test_kcenter.py::test_kcenter_methods_agree``."""
    spark = df.sparkSession
    emb = df.select(F.col(id_col).alias("vec_id"),
                    F.expr(f"transform({vec_col}, "
                           f"x -> CAST(x AS DOUBLE))").alias("embedding"))
    if method == "auto" and k > JOIN_METHOD_THRESHOLD:
        # the rounds past the threshold dominate; use one shape for all
        method = "join"
    elif method == "auto":
        method = "literal"
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    centers = [(int(seed["vec_id"]), list(seed["embedding"]))]
    out = [(1, centers[0][0], None)]
    for rank in range(2, k + 1):
        pick = (
            _min_dist(emb, centers, method)
            .agg(F.max(F.struct(
                F.col("__d").alias("d"),
                (-F.col("vec_id")).alias("nid"),
            )).alias("__m"))
            .select(F.col("__m.d").alias("d"),
                    (-F.col("__m.nid")).cast("long").alias("vid"))
            .collect()[0]
        )
        vid = int(pick["vid"])
        row = emb.filter(F.col("vec_id") == vid).collect()[0]
        centers.append((vid, list(row["embedding"])))
        out.append((rank, vid, float(pick["d"])))
    res = literal_relation(spark, out, StructType([
        StructField("rank", LongType()),
        StructField("vec_id", LongType()),
        StructField("sel_dist", DoubleType()),
    ]))
    return res.select(
        "rank", "vec_id",
        round_portable(F.col("sel_dist"), 6).alias("sel_dist"))


def _q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcenter_select(load(spark, sf_dir, "embeddings"))


def _duck_sqdist(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(range(1, {DIM} + 1), "
            f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
            f"(acc, t) -> acc + t)")


def _kcenter_oracle(k: int = K) -> str:
    parts = ["""emb AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
), c1 AS (
  SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT 1
)"""]
    for i in range(2, k + 1):
        ds = [
            _duck_sqdist("e.embedding", f"c{j}.embedding")
            for j in range(1, i)
        ]
        mind = f"least({', '.join(ds)})" if len(ds) > 1 else ds[0]
        froms = ", ".join(f"c{j}" for j in range(1, i))
        parts.append(f"""c{i} AS (
  SELECT e.vec_id, e.embedding, {mind} AS d
  FROM emb e, {froms}
  ORDER BY d DESC, e.vec_id ASC LIMIT 1
)""")
    sels = ["SELECT CAST(1 AS BIGINT) AS rank, vec_id, "
            "CAST(NULL AS DOUBLE) AS sel_dist FROM c1"]
    for i in range(2, k + 1):
        sels.append(
            f"SELECT CAST({i} AS BIGINT) AS rank, vec_id, "
            f"{round_portable_duck('d', 6)} AS sel_dist FROM c{i}")
    return f"""
WITH {', '.join(parts)}
{' UNION ALL '.join(sels)}
"""


QUERIES: dict = {
    "emb_kcenter_embeddings": (_q_kcenter, _kcenter_oracle()),
}
