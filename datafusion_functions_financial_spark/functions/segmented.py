"""Parallel-in-time indicator computation for giant single-key series.

``with_indicators`` parallelizes across series; a SINGLE series is one
sequential scan — fine for per-ticker minute bars, a bottleneck for a
series with billions of rows. This module splits such a series into
ordered time buckets. Every (series, bucket) run is one hash
partition's worth of work, and the full data crosses ONE exchange on
(series, bucket) that two executor-side passes share:

1. **Summary pass** (``mapInPandas`` over the shared exchange, one call
   per partition). Each split run reduces to a constant-size summary
   holding BOTH:
   - the *seed-exact* final state if this bucket starts the series
     (serial fold inside the bucket), and
   - the *affine transfer* for the continuing case: the recurrence
     ``e' = (1-a)e + a x`` composes over a bucket to
     ``e_out = A e_in + B`` with ``A = (1-a)^len`` and ``B`` the fold
     seeded with 0. RSI's Wilder averages are the same recurrence over
     gains/losses; SMA transfers its trailing ``window-1`` values.
   Runs that are not split (the cold series of a hot-key split) emit
   nothing. The pass selects them in Python: a Catalyst filter would be
   pushed below the exchange and read the input a second time.
2. **Prefix combine**: an ``applyInPandas`` over ``groupBy(series)`` of
   the SUMMARY relation chains summaries bucket-by-bucket into every
   later bucket's carry-in state — scalar work (1e9 rows in 1e6-row
   buckets = 1000 steps per series), sequential within a series,
   parallel across series. Only the constant-size summaries shuffle;
   the Spark driver never sees them.
3. **Output pass** (``mapInPandas`` over the same exchange, carries
   broadcast-joined back; rows are sorted after the join, where the
   optimizer keeps the sort). Runs without a carry — cold series and
   first buckets — go through ``with_indicators``' own fold (row-parallel
   kernels when a partition holds many series), the rest continue from
   their carry-in state.

Results are mathematically exact; the affine composition reassociates
floating-point ops, so values can differ from the serial kernels by
~1 ulp per bucket boundary (tests use rtol 1e-9). Use the serial
kernels when bit-identical output matters; use this when one series
exceeds what a single task should scan.

Constraints (asserted): values non-null in split series; for RSI the
first bucket must contain more changes than the window (the Wilder seed
may not span a bucket boundary).
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .indicators import (
    IndicatorSpec,
    _broadcast_left_join,
    _indicator_fold,
    _partition_frame,
    _runs,
)
from .kernels import ema_fold, sma_kernel

__all__ = ["with_indicators_segmented"]

_A12, _A26 = 2.0 / 13.0, 2.0 / 27.0


def _alphas(spec: IndicatorSpec) -> tuple[float, ...]:
    """The EMA smoothing factors behind an ``ema`` or ``macd`` spec."""
    if spec.kind == "macd":
        return _A12, _A26
    return (2.0 / (float(spec.window) + 1.0),)


def _affine(comp: np.ndarray, alpha: float) -> tuple[float, float]:
    """(A, B) of the EMA recurrence composed over ``comp``."""
    b = ema_fold(np.append(0.0, comp), alpha)[-1]
    return (1.0 - alpha) ** len(comp), b


def _ema_continue(comp: np.ndarray, alpha: float, carry: float) -> np.ndarray:
    """The EMA fold over ``comp`` from the state ``carry``."""
    return ema_fold(np.append(carry, comp), alpha)[1:]


def _gains_losses(lead: np.ndarray):
    chg = lead[1:] - lead[:-1]
    return np.where(chg > 0.0, chg, 0.0), np.where(chg < 0.0, -chg, 0.0)


def _rsi_state_serial(v: np.ndarray, n: int):
    """Final (avg_gain, avg_loss, seeded) after a series-starting bucket."""
    gains, losses = _gains_losses(v)
    if len(gains) < n:
        return 0.0, 0.0, False
    sg = gains[0]
    sl = losses[0]
    for i in range(1, n):
        sg = sg + gains[i]
        sl = sl + losses[i]
    ag, al = sg / float(n), sl / float(n)
    a = 1.0 / float(n)
    for i in range(n, len(gains)):
        ag = ag * (1.0 - a) + gains[i] * a
        al = al * (1.0 - a) + losses[i] * a
    return ag, al, True


def _rsi_continue(v: np.ndarray, n: int, ag: float, al: float,
                  prev_last: float) -> np.ndarray:
    lead = np.concatenate([[prev_last], v])
    gains, losses = _gains_losses(lead)
    a = 1.0 / float(n)
    out = np.empty(len(v))
    # ag / al overflows to inf when al is subnormal: the RSI is 100.0
    with np.errstate(over="ignore"):
        for i in range(len(v)):
            ag = ag * (1.0 - a) + gains[i] * a
            al = al * (1.0 - a) + losses[i] * a
            out[i] = 100.0 if al == 0.0 else 100.0 - (100.0 / (1.0 + ag / al))
    return out


def _summary(v: np.ndarray, specs: Sequence[IndicatorSpec]) -> dict:
    """Constant-size summary of one split run (values in order)."""
    assert not np.isnan(v).any(), "segmented path requires non-null values"
    s: dict = {"first_v": float(v[0]), "last_v": float(v[-1]), "n": len(v)}
    for sp in specs:
        if sp.kind in ("ema", "macd"):
            # per EMA: (A, B, final state when the run starts the series)
            s[sp.out_col] = [(*_affine(v, a), float(ema_fold(v, a)[-1]))
                             for a in _alphas(sp)]
        elif sp.kind == "sma":
            tail = v[-(sp.window - 1):] if sp.window > 1 else v[:0]
            s[sp.out_col] = {"tail": [float(x) for x in tail]}
        elif sp.kind == "rsi":
            gains, losses = _gains_losses(v)
            al = 1.0 / float(sp.window)
            ag_a, ag_b = _affine(gains, al)
            al_a, al_b = _affine(losses, al)
            sag, sal, seeded = _rsi_state_serial(v, sp.window)
            s[sp.out_col] = {
                "Ag": ag_a, "Bg": ag_b, "Al": al_a, "Bl": al_b,
                "seed_ag": sag, "seed_al": sal, "seeded": seeded,
            }
    return s


def _seed_state(summ: dict, specs: Sequence[IndicatorSpec]) -> dict:
    """Carry-out state of a series' first bucket."""
    state = {}
    for sp in specs:
        s = summ[sp.out_col]
        if sp.kind in ("ema", "macd"):
            state[sp.out_col] = [seed for _, _, seed in s]
        elif sp.kind == "sma":
            state[sp.out_col] = s["tail"]
        elif sp.kind == "rsi":
            assert s["seeded"], (
                "segmented RSI: first bucket must contain at least "
                f"{sp.window} changes"
            )
            state[sp.out_col] = {"ag": s["seed_ag"], "al": s["seed_al"]}
    return state


def _advance(state: dict, summ: dict,
             specs: Sequence[IndicatorSpec]) -> dict:
    """Carry-out state of a later bucket from its carry-in ``state``."""
    nxt = {}
    for sp in specs:
        s, st = summ[sp.out_col], state[sp.out_col]
        if sp.kind in ("ema", "macd"):
            nxt[sp.out_col] = [a * e + b for (a, b, _), e in zip(s, st)]
        elif sp.kind == "sma":
            keep = sp.window - 1
            nxt[sp.out_col] = (st + s["tail"])[-keep:] if keep else []
        elif sp.kind == "rsi":
            a = 1.0 / float(sp.window)
            chg = summ["first_v"] - state["prev_last"]
            g = chg if chg > 0.0 else 0.0
            lo = -chg if chg < 0.0 else 0.0
            ag = st["ag"] * (1.0 - a) + g * a
            al = st["al"] * (1.0 - a) + lo * a
            nxt[sp.out_col] = {"ag": s["Ag"] * ag + s["Bg"],
                               "al": s["Al"] * al + s["Bl"]}
    return nxt


def _continue(v: np.ndarray, sp: IndicatorSpec, carry: dict) -> np.ndarray:
    """One spec over a later bucket's values from its carry-in state."""
    cin = carry[sp.out_col]
    if sp.kind in ("ema", "macd"):
        e = [_ema_continue(v, a, c) for a, c in zip(_alphas(sp), cin)]
        return e[0] if sp.kind == "ema" else e[0] - e[1]
    if sp.kind == "sma":
        return sma_kernel(np.concatenate([cin, v]), sp.window)[len(cin):]
    return _rsi_continue(v, sp.window, cin["ag"], cin["al"],
                         carry["prev_last"])


def with_indicators_segmented(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str],
    series_by: Sequence[str],
    bucket_col: str,
    specs: Sequence[IndicatorSpec],
) -> DataFrame:
    """Compute ``specs`` over series split into ordered buckets.

    ``bucket_col``: integer column, increasing with ``order_by`` within
    a series (e.g. ``year`` or ``ts DIV chunk``)."""
    return _segmented(df, value_col, list(order_by), list(series_by),
                      bucket_col, list(specs))


def _segmented(
    df: DataFrame,
    value_col: str,
    order_by: list[str],
    series_by: list[str],
    bucket_col: str,
    specs: list[IndicatorSpec],
    hot_col: str | None = None,
) -> DataFrame:
    """``with_indicators_segmented``; with ``hot_col``, only the series
    whose rows have it true are split (the others hold all their rows
    in one bucket and get no carry)."""
    run_keys = series_by + [bucket_col]
    shared = df.repartition(*run_keys)
    key_fields = [df.schema[c] for c in run_keys]

    # ---- pass 1: summaries of the split runs -----------------------------
    def summarize(batches):
        pdf = _partition_frame(batches)
        if pdf is None:
            return
        starts, ends = _runs(pdf, run_keys)
        if hot_col is not None:
            split = pdf[hot_col].to_numpy(dtype=bool)[starts]
            starts, ends = starts[split], ends[split]
        if not len(starts):
            return
        v = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
        out = pdf[run_keys].iloc[starts].reset_index(drop=True)
        out["summary"] = [json.dumps(_summary(v[st:en], specs))
                          for st, en in zip(starts, ends)]
        yield out

    summaries = (
        shared.sortWithinPartitions(*run_keys, *order_by)
        .mapInPandas(summarize, StructType(
            key_fields + [StructField("summary", StringType())]))
    )

    # ---- pass 2: executor-side prefix combine ----------------------------
    # The prefix chain is inherently sequential WITHIN a series but the
    # summary relation is tiny (one constant-size row per bucket), so the
    # combine runs as an applyInPandas over groupBy(series): one executor
    # task per series, parallel across series, nothing on the Spark
    # driver.
    # A series' first bucket gets no carry row.
    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bucket_col, kind="mergesort",
                              ignore_index=True)
        carries = []
        state: dict = {}
        for summ_json in pdf["summary"]:
            summ = json.loads(summ_json)
            if state:
                carries.append(json.dumps(state))
                state = _advance(state, summ, specs)
            else:
                state = _seed_state(summ, specs)
            state["prev_last"] = summ["last_v"]
        out = pdf[run_keys].iloc[1:].reset_index(drop=True)
        out["carry"] = carries
        return out

    carry_df = summaries.groupBy(*series_by).applyInPandas(
        combine, StructType(key_fields + [StructField("carry", StringType())])
    )

    # ---- pass 3: outputs, with carry-in where there is one ----------------
    fold = _indicator_fold(specs, value_col)
    out_schema = StructType(
        df.schema.fields
        + [StructField(sp.out_col, DoubleType(), True) for sp in specs]
    )

    def compute(batches):
        pdf = _partition_frame(batches)
        if pdf is None:
            return
        starts, ends = _runs(pdf, run_keys)
        carries = pdf["carry"].to_numpy()[starts]
        cont = pd.notna(carries)
        outs = fold(pdf, starts[~cont], ends[~cont])
        v = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
        for st, en, c in zip(starts[cont], ends[cont], carries[cont]):
            carry = json.loads(c)
            for sp in specs:
                outs[sp.out_col][st:en] = _continue(v[st:en], sp, carry)
        pdf = pdf.drop(columns=["carry"])
        for sp in specs:
            pdf[sp.out_col] = outs[sp.out_col]
        yield pdf

    return (
        _broadcast_left_join(shared, carry_df, run_keys)
        .sortWithinPartitions(*run_keys, *order_by)
        .mapInPandas(compute, out_schema)
    )
