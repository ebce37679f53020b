"""Power iteration over a small weighted edge list, run as one Arrow
fold inside one task.

A power method on Spark that unrolls its steps into SQL grows the plan
by a window (or a join) and an aggregate per step. Every step then pays
its own analysis and its own generated classes, and the JVM-wide
codegen cache (``spark.sql.codegen.cache.maxEntries``, a static conf)
evicts them again between runs. ``power_fold`` instead unions the edge
rows ``(src, dst, w)`` with flagged node rows, coalesces them to ONE
partition once, and runs every step in one ``mapInArrow`` call: the plan
has the same operators for 1 step or 100, and building it fires no job.

Each step repeats the quantized SQL arithmetic of its callers in the
same order, so results are bit-identical to the SQL form:

- out-weight ``ow = sum(w)`` per ``src`` over the non-NULL weights, as
  BIGINT for integral weights;
- contribution ``round(v[src] * (w / ow) * q)`` in float64, rounded
  HALF_UP as Spark's ``round`` does and cast to BIGINT;
- per-``dst`` BIGINT sums of the contributions.

Node keys match as Spark's equality grouping does (a NULL node matches a
NULL ``src`` or ``dst``). An edge whose ``src`` is not a (live) node
contributes nothing; one whose ``dst`` is not a node leaks its mass.
ANSI errors are kept: a zero out-weight under a non-NULL weight raises
``DIVIDE_BY_ZERO`` (numpy would return NaN), and a BIGINT that does not
fit raises ``CAST_OVERFLOW`` or ``ARITHMETIC_OVERFLOW``.

Bound: the whole edge list is one task's numpy arrays; it is meant for
relations of at most nodes² rows with nodes in the hundreds or low
thousands (SCALING.md, PageRank).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

__all__ = ["Graph", "power_fold"]

_I64 = float(2 ** 63)


def _half_up(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x)`` on doubles: HALF_UP, away from zero. For
    ``|x| < 2^52`` the fractional part is exact, and above it every
    double is already integral."""
    a = np.abs(x)
    k = np.floor(a)
    return np.copysign(k + (a - k >= 0.5), x)


def _to_bigint(x: np.ndarray) -> np.ndarray:
    """``CAST(x AS BIGINT)`` under ANSI: out of range raises."""
    if x.size and not np.all(np.abs(x) < _I64):
        raise ArithmeticError("[CAST_OVERFLOW] a quantized power-step "
                              "term does not fit in BIGINT")
    return x.astype(np.int64)


def _sum_into(n: int, idx: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Per-index sums of ``vals`` (same dtype); a BIGINT sum that could
    leave the int64 range raises, as an ANSI ``sum`` does."""
    out = np.zeros(n, vals.dtype)
    np.add.at(out, idx, vals)
    if vals.dtype == np.int64 and vals.size:
        bound = np.zeros(n)
        np.add.at(bound, idx, np.abs(vals.astype(np.float64)))
        if bound.max() >= _I64:
            raise ArithmeticError("[ARITHMETIC_OVERFLOW] a BIGINT sum "
                                  "of a power step overflows")
    return out


class Graph:
    """The node keys and the edge list of one fold, as index arrays.

    ``src`` and ``dst`` index ``keys`` (-1 when the endpoint is not a
    node); ``share`` is ``w / ow`` per edge (NaN where ``w`` is NULL or
    the source is not a node)."""

    def __init__(self, keys, src: np.ndarray, dst: np.ndarray,
                 share: np.ndarray):
        self.keys, self.n = keys, len(keys)
        self.src, self.dst, self.share = src, dst, share

    def push(self, v: np.ndarray, q: int,
             live: np.ndarray | None = None
             ) -> tuple[np.ndarray, np.ndarray]:
        """One step: ``(sums, hit)``. ``sums[j]`` is the BIGINT sum of
        ``round(v[src] * share * q)`` over the edges into node ``j``
        from a ``live`` source (every node when None); ``hit[j]`` says
        whether any such edge exists."""
        m = self.src >= 0
        if live is not None:
            m[m] = live[self.src[m]]
        reach = m & (self.dst >= 0)
        hit = np.zeros(self.n, bool)
        hit[self.dst[reach]] = True
        m &= ~np.isnan(self.share)
        cq = _to_bigint(_half_up(v[self.src[m]] * self.share[m] * q))
        keep = self.dst[m] >= 0
        return _sum_into(self.n, self.dst[m][keep], cq[keep]), hit


def _graph(table) -> Graph:
    """A ``Graph`` from the fold's one Arrow table: node rows carry
    ``__n``; the others are edges ``(src, dst, w)``."""
    is_node = table.column("__n")
    keys = pc.unique(table.column("src").filter(is_node))
    e = table.filter(pc.invert(is_node))

    def index(col: str) -> np.ndarray:
        return pc.index_in(e.column(col), value_set=keys,
                           skip_nulls=False).fill_null(-1).to_numpy(
        ).astype(np.int64)

    src, dst = index("src"), index("dst")
    w = e.column("w")
    has_w = w.is_valid().to_numpy(zero_copy_only=False) & (src >= 0)
    if pa.types.is_integer(w.type):
        wv = w.cast(pa.int64()).fill_null(0).to_numpy()
    else:
        wv = w.cast(pa.float64()).fill_null(0.0).to_numpy()
    ow = _sum_into(len(keys), src[has_w], wv[has_w])[src[has_w]]
    if np.any(ow == 0):
        raise ZeroDivisionError("[DIVIDE_BY_ZERO] an edge's source has "
                                "an out-weight of 0")
    share = np.full(len(src), np.nan)
    share[has_w] = wv[has_w].astype(np.float64) / ow.astype(np.float64)
    return Graph(keys, src, dst, share)


def power_fold(edges: DataFrame, nodes: DataFrame,
               fold: Callable[[Graph], tuple[np.ndarray, np.ndarray]]
               ) -> DataFrame:
    """(node, v): ``fold(graph)`` over the edge list ``(src, dst, w)``
    and the node list ``(node)``, run in one task.

    ``fold`` returns ``(keep, v)``: a mask over ``graph.keys`` and the
    float64 value of each key; the kept keys are the output rows.
    Duplicate nodes collapse to one key. The node column's type is the
    common type of ``src``, ``dst`` and ``node``."""
    both = edges.select("src", "dst", "w", F.lit(False).alias("__n")) \
        .unionByName(nodes.select(F.col("node").alias("src"),
                                  F.lit(True).alias("__n")),
                     allowMissingColumns=True)
    key_t = both.select(F.coalesce("src", "dst")).schema[0].dataType
    both = both.select(F.col("src").cast(key_t).alias("src"),
                       F.col("dst").cast(key_t).alias("dst"),
                       "w", "__n").coalesce(1)
    out = StructType([StructField("node", key_t),
                      StructField("v", DoubleType())])

    def run(batches):
        batches = list(batches)
        if not batches:
            return
        g = _graph(pa.Table.from_batches(batches))
        keep, v = fold(g)
        yield pa.RecordBatch.from_arrays(
            [g.keys.filter(pa.array(keep)), pa.array(v[keep])],
            names=["node", "v"])

    return both.mapInArrow(run, out)
