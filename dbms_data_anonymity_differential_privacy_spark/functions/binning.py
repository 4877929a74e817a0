"""Binning (discretization) — SURVEY §2a P17 / P18.

The reference bins with ``pd.cut(col, bins=n, labels=False)`` (equal-width,
reference ``t-closeness.py:36,39-40``) and with explicit edges + labels
(``Archived/data-anonymity.py:79-83``). The engine's equal-width semantics
are the floor-arithmetic formulation (SURVEY §7 hard-part (c)): bin =
``least(floor((x - min) * n / (max - min)), n - 1)``, which is exact,
whole-stage-codegen friendly, and reproducible in ANSI SQL for the DuckDB
oracle. (pd.cut is right-closed with a 0.1% left-edge extension; values
exactly on an interior edge land one bin lower there — documented
divergence, irrelevant for continuous data.)

Scale note: the min/max pre-pass is one 2-value aggregate, resolved eagerly
with ``.first()`` and inlined as literals of the column's type — no global
window (a ``Window.partitionBy()`` would collapse the whole table to one
partition), and no broadcast stage that every plan reusing the binned
relation (counts, fact probe, write, audits) would otherwise re-run.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bin_equal_width(df: DataFrame, col: str, n_bins: int, out_col: str | None = None) -> DataFrame:
    """P17 — equal-width binning over the observed [min, max] of ``col``.

    Adds ``out_col`` (default ``{col}_bin``) as an INT in [0, n_bins-1];
    NULL input → NULL bin. Degenerate min==max → bin 0 (every row). An
    all-NULL column bins to NULL.

    Eager: the bounds are one ``.first()`` job at call time, so a
    streaming input (no global bounds) is rejected.
    """
    if df.isStreaming:
        raise ValueError(
            f"bin_equal_width({col!r}) needs a batch DataFrame: equal-width "
            "bins come from the column's global min/max, which a stream "
            "does not have; bin with fixed edges (bin_explicit_edges) instead"
        )
    out_col = out_col or f"{col}_bin"
    dtype = df.schema[col].dataType
    lo, hi = df.agg(F.min(col), F.max(col)).first()
    mn, mx = F.lit(lo).cast(dtype), F.lit(hi).cast(dtype)
    return df.withColumn(
        out_col,
        F.when(mn == mx, F.lit(0))
        .otherwise(F.least(F.floor((F.col(col) - mn) * n_bins / (mx - mn)), F.lit(n_bins - 1)))
        .cast("int"),
    )


def equal_width_bin_sql(table: str, col: str, n_bins: int, out_col: str | None = None) -> str:
    """The DuckDB-oracle twin of :func:`bin_equal_width` — a CTE body that
    selects ``{table}.*`` plus the bin column, with the identical arithmetic
    (same operation order → identical IEEE-754 results)."""
    out_col = out_col or f"{col}_bin"
    return (
        f"SELECT t.*, CAST(CASE WHEN mm.mn = mm.mx THEN 0 ELSE "
        f"LEAST(FLOOR(({col} - mm.mn) * {n_bins} / (mm.mx - mm.mn)), {n_bins - 1}) "
        f"END AS INT) AS {out_col} "
        f"FROM {table} t CROSS JOIN (SELECT MIN({col}) AS mn, MAX({col}) AS mx FROM {table}) mm"
    )


def bin_explicit_edges(
    df: DataFrame,
    col: str,
    edges: Sequence[float],
    labels: Sequence[str],
    out_col: str | None = None,
) -> DataFrame:
    """P18 — explicit-edge binning with labels.

    Matches ``pd.cut(col, bins=edges, labels=labels)``: intervals are
    left-open/right-closed ``(edges[i], edges[i+1]]``; values outside
    ``(edges[0], edges[-1]]`` → NULL. Pure chained CASE WHEN — stays inside
    whole-stage codegen, no UDF (reference ``Archived/data-anonymity.py:79-83``).
    """
    if len(labels) != len(edges) - 1:
        raise ValueError("need exactly len(edges)-1 labels")
    out_col = out_col or f"{col}_bin"
    c = F.col(col)
    expr: Column = F.lit(None).cast("string")
    # Build from the last interval backwards so the first WHEN wins.
    cond = None
    for i, label in enumerate(labels):
        this = (c > F.lit(edges[i])) & (c <= F.lit(edges[i + 1]))
        cond = F.when(this, F.lit(label)) if cond is None else cond.when(this, F.lit(label))
    expr = cond.otherwise(F.lit(None).cast("string"))
    return df.withColumn(out_col, expr)


def explicit_edges_case_sql(col: str, edges: Sequence[float], labels: Sequence[str]) -> str:
    """DuckDB twin of :func:`bin_explicit_edges` as a CASE expression."""
    whens = " ".join(
        f"WHEN {col} > {edges[i]} AND {col} <= {edges[i + 1]} THEN '{labels[i]}'"
        for i in range(len(labels))
    )
    return f"CASE {whens} ELSE NULL END"


def bin_equal_frequency(
    df: DataFrame,
    col: str,
    n_bins: int,
    out_col: str | None = None,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Equal-frequency (quantile) binning — the generalization sibling of
    P17 the reference lacks: every bin holds ``ceil/floor(n/n_bins)`` rows
    regardless of the value distribution, which is what an anonymizer
    wants for skewed numerics (equal-width puts 99% of capital-gain in
    bin 0; equal-frequency gives every bin the same crowd to hide in).

    Exact rank formulation: ``ntile(n_bins)`` over (col, tiebreaks) — the
    tiebreak keys make the assignment total-order deterministic (ties on
    ``col`` alone would leave bin membership partition-order dependent and
    irreproducible). DuckDB implements the same standard NTILE, so this is
    oracle-checkable verbatim.

    SCALE WARNING: an unpartitioned window is a single-task global sort —
    correct but serial. This exact form is for modest relations (it exists
    for oracle parity and small dimension releases); at fact-table scale
    use :func:`bin_equal_frequency_approx`, which gets the same bin
    *shape* from sketch quantiles with no global sort.
    """
    from pyspark.sql import Window

    out_col = out_col or f"{col}_bin"
    order = [F.col(col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.orderBy(*order)
    return df.withColumn(out_col, (F.ntile(n_bins).over(w) - 1).cast("int"))


def bin_equal_frequency_approx(
    df: DataFrame,
    col: str,
    n_bins: int,
    out_col: str | None = None,
    relative_error: float = 0.001,
) -> DataFrame:
    """Scale path for equal-frequency binning: edges from
    ``approx_percentile`` (Greenwald–Khanna sketch — one map-side pass, a
    kilobyte-scale merge, NO global sort), then a broadcast of the edge
    array and a codegen-friendly comparison chain. Bin populations are
    equal to within ``relative_error``; assignment is by VALUE (all ties
    share a bin), unlike the exact rank form which splits ties at bin
    boundaries. At 100 TB this is the only reasonable formulation — the
    sketch merge is the same pattern Spark uses for its own AQE statistics.
    """
    out_col = out_col or f"{col}_bin"
    probs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    edges = df.agg(
        F.percentile_approx(F.col(col), probs, F.lit(int(1.0 / relative_error))).alias(
            "__edges"
        )
    )
    binned = df.crossJoin(F.broadcast(edges))
    # bin = number of interior edges strictly below the value
    cnt = F.aggregate(
        F.col("__edges"),
        F.lit(0),
        lambda acc, e: acc + F.when(F.col(col) >= e, F.lit(1)).otherwise(F.lit(0)),
    )
    return binned.withColumn(out_col, cnt.cast("int")).drop("__edges")
