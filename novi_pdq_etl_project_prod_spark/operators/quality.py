"""Data-quality suite (SURVEY.md §2.2 P6-P8, §2.4 A3/A5, §2.5 J1, §2.7 U1).

The reference's correctness mechanism is three runtime DQ gates executed as
raw SQL in Postgres (reference ``dags/pdq_etl_dag.py:254-429``):

1. **non-negativity** of the four measures (hard fail) — P8/A5;
2. **grain uniqueness** of (entity, month) (hard fail) — P7/A5;
3. **rollup reconciliation** (soft, log-only): operator-reported totals vs
   lease-level rollups by operator / district / field, ±0.5 absolute
   tolerance per measure — A3 (6 aggregations) + J1 (3 left joins) +
   P6 (tolerance predicate) + U1 (union all) + O1 (order by).

Here each check is a pure function returning a *violation DataFrame*
(empty ⇒ pass) plus a raising wrapper, so the same logic serves as a
pipeline gate, a test oracle, and an ad-hoc query.

Scale notes: each rollup aggregates before joining, so the join inputs are
at key cardinality (small); AQE broadcasts them. The checks short-circuit
with ``limit(1)`` for the raising wrappers — no full materialization of
violations at 100 TB just to decide pass/fail. ``assert_fact_gates``
decides both hard gates of a fact in one grain aggregation, for a
pipeline that gates facts it has just written.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ±0.5 absolute tolerance per measure (reference ``dags/pdq_etl_dag.py:325-330``).
ROLLUP_TOLERANCE = 0.5


class DataQualityError(RuntimeError):
    """Raised by the hard-fail wrappers, mirroring the reference's
    task-failing ``raise`` (reference ``dags/pdq_etl_dag.py:398-400,427-429``)."""


def negative_measures(df: DataFrame, measures: tuple[str, ...]) -> DataFrame:
    """P8 — rows violating the non-negativity invariant (the DDL
    ``CHECK (col >= 0)`` twin, reference ``sql/schema.sql:32-35``)."""
    pred = None
    for m in measures:
        c = F.col(m) < 0
        pred = c if pred is None else (pred | c)
    return df.where(pred)


def duplicate_keys(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """P7/A5 — key groups with more than one row (PK-uniqueness twin,
    reference ``dags/pdq_etl_dag.py:402-429``)."""
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def assert_non_negative(df: DataFrame, measures: tuple[str, ...]) -> None:
    """A5 hard gate — existence check via ``limit(1)``, not a full count."""
    if negative_measures(df, measures).limit(1).count() > 0:
        raise DataQualityError(f"negative values found in measures {measures}")


def assert_unique_grain(df: DataFrame, keys: tuple[str, ...]) -> None:
    if duplicate_keys(df, keys).limit(1).count() > 0:
        raise DataQualityError(f"duplicate rows at grain {keys}")


def assert_fact_gates(
    facts: Sequence[tuple[DataFrame, tuple[str, ...]]],
    measures: tuple[str, ...],
) -> list[int]:
    """Both hard gates over ``(fact, grain keys)`` pairs in one
    aggregation per fact; returns each fact's row count.

    Each fact is grouped by its grain for the per-key row count and the
    per-key minimum of every measure, and those fold into one row: the
    total row count, the largest per-key count and each measure's
    minimum. A minimum below 0 is a negative value (SQL ``min`` skips
    nulls, as the ``< 0`` filter does); a per-key count above 1 is a
    duplicate. The grain check has to read every row anyway, so the
    non-negativity check and the row count ride on the same scan.

    Raises the :func:`assert_non_negative` / :func:`assert_unique_grain`
    errors in the order calling those on each fact in turn, all
    non-negativity checks first, would raise them.
    """
    stats = []
    for df, keys in facts:
        per_key = df.groupBy(*[F.col(k) for k in keys]).agg(
            F.count(F.lit(1)).alias("__n"), *[F.min(m).alias(m) for m in measures]
        )
        stats.append(
            per_key.agg(
                F.sum("__n").alias("__rows"),
                F.max("__n").alias("__max_n"),
                *[F.min(m).alias(m) for m in measures],
            ).first()
        )
    for row in stats:
        if any(row[m] is not None and row[m] < 0 for m in measures):
            raise DataQualityError(f"negative values found in measures {measures}")
    for (_df, keys), row in zip(facts, stats):
        if (row["__max_n"] or 0) > 1:
            raise DataQualityError(f"duplicate rows at grain {keys}")
    return [row["__rows"] or 0 for row in stats]


def _sum_measures(df: DataFrame, group_keys: list[str], measures: tuple[str, ...], prefix: str) -> DataFrame:
    """A3 — ``SUM(COALESCE(m, 0))`` grouped by the rollup key (reference
    ``dags/pdq_etl_dag.py:257-316``). Decimal accumulation keeps the sums
    exact and order-independent (doubles would make the comparison flaky)."""
    aggs = [
        F.sum(F.coalesce(F.col(m), F.lit(0)).cast("decimal(28,2)")).alias(f"{prefix}{m}")
        for m in measures
    ]
    return df.groupBy(*[F.col(k) for k in group_keys]).agg(*aggs)


def rollup_reconciliation(
    side_a: DataFrame,
    side_b: DataFrame,
    key: str,
    measures: tuple[str, ...],
    check_type: str,
    tolerance: float = ROLLUP_TOLERANCE,
) -> DataFrame:
    """A3+J1+P6 — reconcile two independent aggregations of the same
    economic quantity (a metamorphic oracle, SURVEY.md §5).

    ``side_a`` / ``side_b`` are row-level inputs; both are aggregated by
    ``key`` here, left-joined (a-side preserved, reference
    ``dags/pdq_etl_dag.py:323-324``), and filtered to rows where any
    measure differs by more than ``tolerance`` absolute (P6).
    """
    a = _sum_measures(side_a, [key], measures, "a_")
    b = _sum_measures(side_b, [key], measures, "b_")
    joined = a.join(b, on=key, how="left")
    pred = None
    for m in measures:
        c = (
            F.abs(
                F.coalesce(F.col(f"a_{m}"), F.lit(0))
                - F.coalesce(F.col(f"b_{m}"), F.lit(0))
            )
            > tolerance
        )
        pred = c if pred is None else (pred | c)
    out = joined.where(pred).withColumn("check_type", F.lit(check_type))
    return out.select(
        "check_type",
        F.col(key).cast("long").alias("key"),
        *[F.col(f"a_{m}").cast("double").alias(f"a_{m}") for m in measures],
        *[F.col(f"b_{m}").cast("double").alias(f"b_{m}") for m in measures],
    )


def rollup_reconciliation_suite(
    side_a: DataFrame,
    side_b: DataFrame,
    keys: tuple[str, ...],
    measures: tuple[str, ...],
    tolerance: float = ROLLUP_TOLERANCE,
) -> DataFrame:
    """U1+O1 — run one reconciliation per key, union-all the mismatch sets
    with aligned schemas, order by check_type (reference
    ``dags/pdq_etl_dag.py:320-365``: operator/district/field blocks)."""
    parts = [
        rollup_reconciliation(side_a, side_b, k, measures, check_type=f"by_{k}", tolerance=tolerance)
        for k in keys
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("check_type", "key")


def referential_orphans(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
    relation: str,
) -> DataFrame:
    """FK integrity gate: one row (relation, n_orphans) counting child
    rows whose ``fk`` has no matching ``pk`` in the parent — the check a
    warehouse load runs before publishing a star schema (the reference's
    dims are upserted before facts land for exactly this reason,
    model_curated.py:72-101).

    LeftAnti join: Spark broadcasts the parent key set when small, else
    sort-merge — either way only keys shuffle, never payloads."""
    from pyspark.sql import functions as F

    orphans = child.select(F.col(fk).alias("_k")).join(
        parent.select(F.col(pk).alias("_k")), "_k", "left_anti"
    )
    return orphans.agg(
        F.lit(relation).alias("relation"),
        F.count(F.lit(1)).alias("n_orphans"),
    )


def referential_suite(
    relations: list,
) -> DataFrame:
    """Union of :func:`referential_orphans` over (child, parent, fk, pk,
    name) tuples — one pass per relation, one tiny row each."""
    parts = [referential_orphans(*r) for r in relations]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def grouped_table_checksum(
    df: DataFrame,
    keys: Sequence[str],
    repr_cols: Sequence,
) -> DataFrame:
    """Order-independent content checksum per key group — the generalized
    form of the reference's rollup reconciliation: instead of comparing a
    handful of SUMs (which misses compensating errors and non-numeric
    drift), compare a per-group fold of every row's full content. Two
    engines/replicas agree on a group iff n_rows AND both checksum folds
    agree; mismatched groups localize the drift without moving any rows.

    Construction: each row renders ``repr_cols`` to a canonical string
    (callers must pass cross-engine-stable renderings — integers, strings,
    exact cents — never raw double→string formatting), md5s it, and two
    disjoint 15-hex-digit slices become BIGINTs folded with ``bit_xor``
    (commutative, associative, overflow-free — partition-order
    independent by construction, which is what makes the fold both
    100 TB-parallel and DuckDB-oracle-able). One hash-agg; the map side
    reduces everything, so shuffle traffic is one row per group per task.
    XOR cancels PAIRS of identical rows — n_rows plus two independent
    slices makes a silent collision require a crafted multiset, not a
    plausible pipeline bug.
    """
    rep = F.concat_ws("|", *[c if not isinstance(c, str) else F.col(c) for c in repr_cols])
    h = F.md5(rep)
    s1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    s2 = F.conv(F.substring(h, 16, 15), 16, 10).cast("long")
    return (
        df.select(*keys, s1.alias("_h1"), s2.alias("_h2"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("_h1").alias("xor_hi"),
            F.bit_xor("_h2").alias("xor_lo"),
        )
    )


def fd_violation_report(
    df: DataFrame,
    fds: Sequence[tuple[str, Sequence[str], str]],
) -> DataFrame:
    """Functional-dependency audit: for each candidate FD
    ``determinant -> dependent``, does every determinant key map to
    exactly one dependent value?

    ``fds`` is a list of ``(fd_name, determinant_cols, dependent_col)``.
    Output: one row per FD — ``fd``, ``n_keys`` (distinct determinant
    keys), ``n_violating_keys`` (keys with >1 distinct dependent),
    ``max_branching`` (worst key's distinct-dependent count). An FD
    holds iff ``n_violating_keys = 0``.

    This is the schema-inference / grain-discovery primitive the
    reference's grain-uniqueness gate (``dags/pdq_etl_dag.py:254``)
    special-cases: uniqueness of (entity, month) is the FD
    ``(entity, month) -> rowid``. Declared here over arbitrary columns
    it audits *assumed* model invariants (does ``order -> customer``
    really hold after a bad backfill?) before they become silently
    wrong joins.

    Scale shape: per FD one ``count_distinct`` hash-aggregate keyed on
    the determinant (two-phase, map-side partials) followed by an
    all-reduce to 1 row; the per-FD branches union into one tiny
    result. No joins, no row-level output — safe to run on the full
    fact at any scale.
    """
    reports = []
    for fd_name, det, dep in fds:
        per_key = df.groupBy(*det).agg(
            F.count_distinct(F.col(dep)).alias("__branch")
        )
        reports.append(
            per_key.agg(
                F.lit(fd_name).alias("fd"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum(F.when(F.col("__branch") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating_keys"),
                F.max("__branch").alias("max_branching"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def schema_drift(old: DataFrame, new: DataFrame) -> list[dict]:
    """Schema diff between two frames (typically two snapshot versions
    via ``read_snapshot_as_of`` — the metadata complement to
    ``snapshot_diff``'s row-level report): one entry per changed column,
    ``{"column", "status": added|removed|retyped, "old_type",
    "new_type"}``, ordered removed → retyped → added, by name.

    Pure driver-side metadata (no jobs, no scan) — safe to call on
    frames of any size; feed the result to an expectations gate to
    block unreviewed schema evolution before a MERGE with
    ``schema_evolution=True`` silently widens the target."""
    old_t = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    new_t = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    out: list[dict] = []
    for c in sorted(set(old_t) - set(new_t)):
        out.append(
            {"column": c, "status": "removed", "old_type": old_t[c],
             "new_type": None}
        )
    for c in sorted(set(old_t) & set(new_t)):
        if old_t[c] != new_t[c]:
            out.append(
                {"column": c, "status": "retyped", "old_type": old_t[c],
                 "new_type": new_t[c]}
            )
    for c in sorted(set(new_t) - set(old_t)):
        out.append(
            {"column": c, "status": "added", "old_type": None,
             "new_type": new_t[c]}
        )
    return out
