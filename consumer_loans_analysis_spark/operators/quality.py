"""Data-quality constraint auditing (expectations-class checks).

A 100 TB pipeline needs its invariants checked WHERE THE DATA IS — as
aggregation plans, not driver-side row loops. Each rule compiles to a
conditional aggregate over one shared scan; a whole rule set on a table
is therefore ONE pass / zero-or-one shuffle regardless of how many rules
it contains (referential-integrity rules add an anti-join against the
referenced key set).

Rules (name → violation count semantics):
- ``not_null(col)``          rows where col IS NULL
- ``unique(cols)``           rows beyond the first in any duplicate key group
- ``in_range(col, lo, hi)``  non-null rows outside [lo, hi]
- ``in_set(col, values)``    non-null rows with a value outside the set
- ``matches(col, regex)``    non-null rows not fully matching the pattern
- ``foreign_key(col, ref_df, ref_col)``  non-null rows with no referenced row
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    kind: str
    cols: tuple[str, ...]
    params: tuple = field(default_factory=tuple)
    ref: Any = None  # DataFrame for foreign_key rules


def not_null(col: str) -> Rule:
    return Rule(f"not_null_{col}", "not_null", (col,))


def unique(*cols: str) -> Rule:
    return Rule("unique_" + "_".join(cols), "unique", tuple(cols))


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"range_{col}", "in_range", (col,), (lo, hi))


def in_set(col: str, values: Sequence) -> Rule:
    return Rule(f"set_{col}", "in_set", (col,), tuple(values))


def matches(col: str, pattern: str) -> Rule:
    return Rule(f"matches_{col}", "matches", (col,), (pattern,))


def foreign_key(col: str, ref_df: DataFrame, ref_col: str) -> Rule:
    return Rule(f"fk_{col}", "foreign_key", (col,), (ref_col,), ref_df)


def _violation(rule: Rule) -> Column:
    c = F.col(rule.cols[0])
    if rule.kind == "not_null":
        return c.isNull()
    if rule.kind == "in_range":
        lo, hi = rule.params
        return c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi)))
    if rule.kind == "in_set":
        return c.isNotNull() & ~c.isin(list(rule.params))
    if rule.kind == "matches":
        (pat,) = rule.params
        return c.isNotNull() & ~c.rlike(pat)
    raise ValueError(f"row-local violation undefined for {rule.kind}")


def audit(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Evaluate every rule; return (rule, n_rows, n_violations, pass).

    Row-local rules (not_null/in_range/in_set/matches) become conditional
    sums in ONE aggregate over one scan — adding rules adds columns, not
    passes. ``unique`` adds one groupBy on its key (count minus distinct
    count, same aggregate). ``foreign_key`` adds a left-anti join against
    the referenced key set (broadcast when the dimension is small; the
    fact side never shuffles). The result is rule-count-sized — collect
    freely.
    """
    spark = df.sparkSession
    row_local = [r for r in rules if r.kind in ("not_null", "in_range", "in_set", "matches")]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for r in row_local:
        aggs.append(
            F.sum(F.when(_violation(r), 1).otherwise(0)).cast("long").alias(r.name)
        )
    base = df.agg(*aggs).collect()[0]
    n_rows = int(base["__n"])
    out: list[tuple[str, int, int, bool]] = []
    for r in row_local:
        v = int(base[r.name] or 0)  # SUM over no rows is null
        out.append((r.name, n_rows, v, v == 0))
    for r in rules:
        if r.kind == "unique":
            # SQL UNIQUE-constraint convention: NULL keys are exempt from
            # uniqueness (pair them with a not_null rule to forbid them);
            # violations = rows beyond the first in each non-null key group
            row = (
                df.dropna(subset=list(r.cols))
                .groupBy(*r.cols)
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(
                    F.sum(F.col("c") - 1).cast("long").alias("extra"),
                )
                .collect()[0]
            )
            v = int(row["extra"] or 0)
            out.append((r.name, n_rows, v, v == 0))
        elif r.kind == "foreign_key":
            (ref_col,) = r.params
            keys = r.ref.select(F.col(ref_col).alias(r.cols[0])).distinct()
            v = (
                df.select(*r.cols)
                .filter(F.col(r.cols[0]).isNotNull())
                .join(F.broadcast(keys), list(r.cols), "left_anti")
                .count()
            )
            out.append((r.name, n_rows, v, v == 0))
    order = {r.name: i for i, r in enumerate(rules)}
    out.sort(key=lambda t: order[t[0]])
    return spark.createDataFrame(
        out, schema="rule string, n_rows long, n_violations long, passed boolean"
    )
