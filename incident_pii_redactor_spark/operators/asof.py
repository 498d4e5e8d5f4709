"""Temporal joins Spark lacks natively: AS-OF join and binned RANGE
join.

As-of — for each left row, the single latest right row with
``right_ts <= left_ts`` per key. Spark has no native ASOF JOIN (DuckDB,
Pandas, kdb do); the naive formulation is a non-equi range join that
explodes to O(|L| x |R|) per key under BroadcastNestedLoopJoin.

Spark-first design (composition of built-ins, no UDF):

1. Tag both sides and UNION them on (key, ts) — right rows sort before
   left rows at equal ts, so a right row AT the left timestamp matches
   (inclusive as-of, the DuckDB/kdb convention).
2. One window per key ordered by (ts, side, <right order cols>):
   ``F.last(col, ignorenulls=True)`` over unbounded-preceding..current
   carries the latest right values forward onto each left row.
3. Filter back to left rows.

Cost: ONE shuffle on the key (the union is shuffle-free; the window
sorts within partitions) — at 10^12 rows this is the same shape as any
keyed aggregation, with none of the range-join blowup. Skewed keys are
ordinary window skew: all of one key's rows sort in one task.

Determinism: duplicate right rows at the same (key, ts) are broken by
``right_order`` (ascending in the window ⇒ the LAST one wins ⇒ equals
``ORDER BY ts DESC, <right_order> DESC LIMIT 1`` in the LATERAL-subquery
oracle), so results are stable across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

_SIDE = "_asof_side"  # 0 = right, 1 = left (sort order does the matching)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    right_order: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Left as-of join: every left row, plus the latest right row's
    ``right_cols`` (NULL when no right row precedes it).

    ``on``: equi-key column name (same name both sides).
    ``right_order``: tie-break columns for duplicate right timestamps
    (defaults to ``right_cols``) — always pass something unique for
    engine-stable results.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    if right_order is None:
        right_order = list(right_cols)
    out_names = [f"{c}{suffix}" for c in right_cols]
    reserved = {"_k", "_ts", "_p", _SIDE} | {f"_ord_{c}" for c in right_order}
    clash = reserved & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join: left columns collide with internal names {clash}"
        )
    # ADVICE round 2: a left column named '<right_col>_asof' would make
    # the final select emit DUPLICATE names, silently breaking by-name
    # access downstream — refuse instead (pass a different suffix)
    out_clash = set(out_names) & set(left.columns)
    if out_clash:
        raise ValueError(
            f"asof_join: output names {out_clash} already exist on the "
            f"left side — choose a different suffix (got {suffix!r})"
        )

    # NULL timestamps: a right row with NULL right_ts sorts nulls-first
    # and would otherwise become the 'match before everything' for left
    # rows with no real predecessor — exclude it, like the SQL predicate
    # right_ts <= left_ts does. NULL left_ts rows sort before all
    # remaining right rows, so they naturally get a NULL payload.
    right = right.filter(F.col(right_ts).isNotNull())

    # compare timestamps at the WIDER type: casting right to left's type
    # would truncate intraday time when left is date-typed, admitting
    # right rows the oracle predicate (timestamp vs date-at-midnight)
    # rejects
    lt = left.schema[left_ts].dataType.simpleString()
    rt = right.schema[right_ts].dataType.simpleString()
    common = lt if lt == rt else "timestamp"

    # right payload travels as ONE struct: carrying columns independently
    # with last(ignorenulls) would mix values from different right rows
    # whenever a right column is NULL (each column would reach back to a
    # different "latest non-null" row)
    payload = F.struct(*[F.col(c).alias(n)
                         for c, n in zip(right_cols, out_names)])
    payload_type = right.select(payload.alias("_p")).schema["_p"].dataType

    lhs = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).cast(common).alias("_ts"),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in left.columns],
        F.lit(None).cast(payload_type).alias("_p"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_ord_{c}")
          for c in right_order],
    )
    rhs = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).cast(common).alias("_ts"),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns],
        payload.alias("_p"),
        *[F.col(c).alias(f"_ord_{c}") for c in right_order],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", _SIDE, *[F.asc(f"_ord_{c}") for c in right_order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lhs.unionByName(rhs).withColumn(
        "_p", F.last("_p", ignorenulls=True).over(w)
    )
    return carried.filter(F.col(_SIDE) == 1).select(
        *left.columns, *[F.col("_p").getField(n).alias(n) for n in out_names]
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_start: str,
    right_end: str,
    bin_seconds: int = 86_400,
) -> DataFrame:
    """Interval containment join WITHOUT an equi key:
    ``right_start <= left_ts < right_end`` — which Spark would otherwise
    plan as a BroadcastNestedLoopJoin (O(|L| x |R|)).

    Binning turns it into an equi-join: each left timestamp maps to one
    fixed-width bin; each right interval explodes to every bin it
    overlaps; the join is per-bin, then the exact predicate filters.
    No dedupe is needed — a left row lives in exactly one bin, so each
    qualifying (left, right) pair joins exactly once.

    Pick ``bin_seconds`` near the typical interval length: cost is
    O(|L| + |R| x interval/bin + matches), and skewed (very long)
    intervals only widen the right explosion, never a cross product.
    Output: all left columns + all right columns.
    """
    if bin_seconds <= 0:
        raise ValueError(f"range_join: bin_seconds must be > 0, got "
                         f"{bin_seconds} (division by zero would silently "
                         f"NULL every bin and match nothing)")
    if "_bin" in left.columns or "_bin" in right.columns:
        raise ValueError("range_join: inputs must not carry a _bin column")
    shared = sorted(set(left.columns) & set(right.columns))
    if shared:
        # same defect class asof_join guards against (round 2): a silent
        # duplicate column name breaks every downstream by-name access
        raise ValueError(
            f"range_join: left and right share column names {shared} — "
            "rename one side before joining")
    # floor, not cast: a bare long-cast truncates toward zero and would
    # mis-bin pre-1970 timestamps
    lbin = F.floor(F.unix_timestamp(F.col(left_ts)) / bin_seconds)
    rs = F.unix_timestamp(F.col(right_start))
    re_ = F.unix_timestamp(F.col(right_end))
    bins = F.sequence(
        F.floor(rs / bin_seconds), F.floor(re_ / bin_seconds)
    )
    l2 = left.withColumn("_bin", lbin)
    r2 = right.withColumn("_bin", F.explode(bins))
    return (
        l2.join(r2, "_bin")
        .filter(
            (F.col(right_start) <= F.col(left_ts))
            & (F.col(left_ts) < F.col(right_end))
        )
        .drop("_bin")
    )
