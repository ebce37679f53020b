"""SQL surface for the indicator window functions.

Spark has no Python *window* UDFs, so the reference's SQL idiom

    SELECT ticker, close,
           rsi(close, 14) OVER (PARTITION BY ticker ORDER BY t) AS rsi
    FROM minute_aggs
    WHERE rsi(close, 14) OVER (PARTITION BY ticker ORDER BY t) IS NOT NULL

cannot be registered directly. ``sql_with_indicators`` keeps those
query strings runnable by *planning* the indicator columns:

1. scan the query text for ``ind(args) OVER (spec)`` calls (including
   the ``LAG(ind(args), n) OVER (spec)`` nesting the reference's
   crossover SQL uses, signals.rs:109-110);
2. compute each distinct (indicator, args, partition, order) via
   ``with_indicators`` on the referenced temp view and register an
   augmented view;
3. rewrite the query to select the materialized columns from the
   augmented view and hand it to ``spark.sql``.

This also legalizes the reference's window-fn-in-WHERE (DataFusion
quirk): after rewriting, the WHERE references a plain column.

Supported shape: indicator calls over a single FROM-table (possibly
inside CTEs). ``OVER ()`` (no ORDER BY) follows input order via
``monotonically_increasing_id`` — reproducible only for single-split
inputs, mirroring the reference's order-dependence caveat
(SURVEY §7 hard part 2).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import indicators as ind

_IND = r"(sma|ema|rsi|macd)"
# LAG(ind(args) [, n]) OVER (spec) — must run before the direct pattern.
_LAG_RE = re.compile(
    rf"\bLAG\s*\(\s*{_IND}\s*\(([^()]*)\)\s*(?:,\s*(\d+)\s*)?\)"
    rf"\s+OVER\s*\(([^()]*)\)",
    re.IGNORECASE,
)
_DIRECT_RE = re.compile(
    rf"\b{_IND}\s*\(([^()]*)\)\s+OVER\s*\(([^()]*)\)", re.IGNORECASE
)
_FROM_RE = re.compile(r"\bFROM\s+([A-Za-z_][A-Za-z0-9_.]*)", re.IGNORECASE)


@dataclass(frozen=True)
class _Call:
    fn: str
    value: str
    window: int | None
    partition: tuple[str, ...]
    order: tuple[str, ...]

    def spec(self) -> ind.IndicatorSpec:
        kinds = {"sma": ind.sma, "ema": ind.ema, "rsi": ind.rsi}
        if self.fn == "macd":
            return ind.macd(self.col_name())
        return kinds[self.fn](self.window, self.col_name())

    def col_name(self) -> str:
        parts = [self.fn, re.sub(r"\W+", "_", self.value)]
        if self.window is not None:
            parts.append(str(self.window))
        if self.partition:
            parts.append("p_" + "_".join(self.partition))
        if self.order:
            parts.append("o_" + "_".join(
                re.sub(r"\W+", "_", o) for o in self.order))
        return "__" + "_".join(parts)


def _parse_over(spec_text: str) -> tuple[tuple[str, ...], tuple[str, ...]]:
    spec = spec_text.strip()
    partition: tuple[str, ...] = ()
    order: tuple[str, ...] = ()
    m = re.search(
        r"PARTITION\s+BY\s+(.*?)(?:ORDER\s+BY|$)", spec, re.IGNORECASE | re.S
    )
    if m:
        partition = tuple(
            c.strip() for c in m.group(1).split(",") if c.strip()
        )
    m = re.search(r"ORDER\s+BY\s+(.*)$", spec, re.IGNORECASE | re.S)
    if m:
        cols = []
        for c in m.group(1).split(","):
            c = c.strip()
            if not c:
                continue
            # Accept a redundant ASC; reject DESC and expressions up
            # front rather than failing deep inside the executor sort.
            stripped = re.sub(r"\s+ASC$", "", c, flags=re.IGNORECASE)
            if re.search(r"\s+DESC$", stripped, re.IGNORECASE):
                raise ValueError(
                    f"DESC ordering is not supported in indicator OVER "
                    f"clauses (got {c!r}): indicators are defined over "
                    f"ascending arrival order"
                )
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", stripped):
                raise ValueError(
                    f"only plain column names are supported in indicator "
                    f"OVER ORDER BY (got {c!r})"
                )
            cols.append(stripped)
        order = tuple(cols)
    return partition, order


def _parse_call(fn: str, args_text: str, spec_text: str) -> _Call:
    fn = fn.lower()
    args = [a.strip() for a in args_text.split(",") if a.strip()]
    if fn == "macd":
        if len(args) != 1:
            raise ValueError("macd takes exactly 1 argument")
        value, window = args[0], None
    else:
        if len(args) != 2:
            raise ValueError(f"{fn} takes exactly 2 arguments")
        value, window = args[0], int(args[1])
    partition, order = _parse_over(spec_text)
    return _Call(fn, value, window, partition, order)


def sql_with_indicators(
    spark: SparkSession,
    query: str,
    table: str | None = None,
) -> DataFrame:
    """Run a SQL query that uses ``sma/ema/rsi/macd`` window calls.

    ``table`` defaults to the first ``FROM <name>`` in the query; the
    augmented view replaces it everywhere in the rewritten text.
    """
    calls: dict[_Call, None] = {}

    def note(fn, args, spec) -> _Call:
        c = _parse_call(fn, args, spec)
        calls.setdefault(c)
        return c

    def sub_lag(m: re.Match) -> str:
        c = note(m.group(1), m.group(2), m.group(4))
        offset = m.group(3) or "1"
        return f"LAG({c.col_name()}, {offset}) OVER ({m.group(4)})"

    rewritten = _LAG_RE.sub(sub_lag, query)

    def sub_direct(m: re.Match) -> str:
        c = note(m.group(1), m.group(2), m.group(3))
        return c.col_name()

    rewritten = _DIRECT_RE.sub(sub_direct, rewritten)

    if not calls:
        return spark.sql(query)

    if table is None:
        cte_names = {
            m.group(1).lower()
            for m in re.finditer(
                r"(?:WITH|,)\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(",
                query, re.IGNORECASE,
            )
        }
        for m in _FROM_RE.finditer(query):
            if m.group(1).lower() not in cte_names:
                table = m.group(1)
                break
    if table is None:
        raise ValueError("could not infer the source table; pass table=")

    df = spark.table(table)
    seq_added = False
    # Group calls sharing (value, partition, order) into ONE
    # with_indicators pass each — one shuffle per distinct series, no
    # matter how many indicators it carries.
    groups: dict[tuple, list[_Call]] = {}
    for call in calls:
        groups.setdefault(
            (call.value, call.partition, call.order), []
        ).append(call)
    for (value, partition, order), group in groups.items():
        order = list(order)
        if not order:
            if not seq_added:
                df = df.withColumn("__seq", F.monotonically_increasing_id())
                seq_added = True
            order = ["__seq"]
        # warn_context: the global-window warning names the SQL that
        # caused it (VERDICT r04 nit) — a one-line snippet is enough to
        # find the offending OVER (ORDER BY ...) in a large script.
        snippet = " ".join(query.split())[:120]
        df = ind.with_indicators(
            df, value, order, list(partition), [c.spec() for c in group],
            warn_context=f"SQL: {snippet}",
        )
    view = f"{table}__with_indicators"
    df.createOrReplaceTempView(view)
    rewritten = re.sub(
        rf"(\bFROM\s+){re.escape(table)}\b", rf"\g<1>{view}", rewritten,
        flags=re.IGNORECASE,
    )
    return spark.sql(rewritten)


def register(spark: SparkSession) -> SparkSession:
    """Attach the indicator surface to a session (parity with the
    reference's ``register_financial_functions``, lib.rs:13-19):
    the DataFrame API needs no registration; this provides the SQL
    entry point as ``spark.sql_with_indicators`` convenience."""
    # Bind without subclassing: a small attribute on the session object.
    spark.sql_with_indicators = lambda q, table=None: sql_with_indicators(
        spark, q, table
    )
    return spark
