"""End-to-end monthly pipeline (SURVEY.md §3): the reference DAG

    wait_for_db >> [extract_operator, extract_lease] >> transform_operator
    >> transform_lease >> model_curated >> [dq_non_negative, dq_uniques]
    >> dq_rollup_log
    (reference ``dags/pdq_etl_dag.py:514-516``)

as one Python function over partitioned-Parquet medallion layers. The
orchestration-level operators map as (SURVEY.md §2.9): DAG edges →
call order (only needed at write boundaries — Spark fuses everything
else lazily); parameterized run → the ``yyyymm`` argument; retries /
chunk-gc → gone (executor memory management + task retry are built in).

Differences from the reference, by design:
- raw layer is partitioned parquet of (yyyymm, raw JSON, ingested_at) —
  JSONB → ``to_json``/``from_json`` (S4/P1);
- delete-month idempotency → dynamic partition overwrite (S7);
- dim upsert ON CONFLICT → latest-wins upsert + compare-and-swap snapshot
  overwrite (S9);
- the transforms and DQ checks run from the same library operators the
  query catalog exposes, so the oracle harness covers their semantics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from novi_pdq_etl_project_prod_spark import cache
from novi_pdq_etl_project_prod_spark.operators.modeling import (
    project_fact,
    upsert_dim,
)
from novi_pdq_etl_project_prod_spark.operators.quality import (
    assert_fact_gates,
    rollup_reconciliation_suite,
)
from novi_pdq_etl_project_prod_spark.operators.transform import (
    MEASURES,
    transform_lease_monthly,
    transform_operator_monthly,
)
from novi_pdq_etl_project_prod_spark.sources.dsv import read_dsv
from novi_pdq_etl_project_prod_spark.sources.json_raw import (
    encode_raw_json,
    parse_raw_json,
    tolerant_string_schema,
)
from novi_pdq_etl_project_prod_spark.sources.layers import (
    current_snapshot,
    overwrite_snapshot,
    read_month,
    table_path,
    write_month_idempotent,
)
from novi_pdq_etl_project_prod_spark.functions.keys import (
    YYYYMM_FLOOR,
    derive_yyyymm,
)
from novi_pdq_etl_project_prod_spark.operators.transform import (
    LEASE_FIELDS,
    OPERATOR_FIELDS,
)

# No longer called by the month (``upsert_dim`` dedups, ``assert_fact_gates``
# gates), but kept importable from this module: the benchmark's traced run
# (``perfbench/workloads.py``) wraps these names here.
from novi_pdq_etl_project_prod_spark.operators.modeling import dedup_dim  # noqa: F401
from novi_pdq_etl_project_prod_spark.operators.quality import (  # noqa: F401
    assert_non_negative,
    assert_unique_grain,
)


@dataclass
class PipelineResult:
    yyyymm: int
    staging_operator_rows: int
    staging_lease_rows: int
    fact_operator_rows: int
    fact_lease_rows: int
    rollup_mismatches: int
    dims: dict = field(default_factory=dict)


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count attached to the job that writes it
    (``obs.get["rows"]`` once the write returns) — the written data is
    never scanned a second time just to count it."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _extract_to_raw(
    spark: SparkSession, dsv_path: str, root: str, table: str, yyyymm: int
) -> StructType:
    """S1-S5: distributed DSV scan → month-keyed JSON raw rows →
    partition-overwrite write (replaces the pandas chunk loop,
    reference ``dags/pdq_etl_dag.py:168-251``). Returns the written
    schema, so the read-back can skip schema inference."""
    df = read_dsv(spark, dsv_path)
    df = df.withColumn(
        "yyyymm", derive_yyyymm("CYCLE_YEAR_MONTH", "CYCLE_YEAR", "CYCLE_MONTH")
    ).where(
        F.col("yyyymm").isNotNull()
        & (F.col("yyyymm") >= F.lit(YYYYMM_FLOOR))
        & (F.col("yyyymm") == F.lit(yyyymm))
    )
    raw = encode_raw_json(df)
    write_month_idempotent(raw, root, "raw", table)
    return raw.schema


def _transform(
    spark: SparkSession, root: str, table: str, fields: list[str], transform_fn,
    yyyymm: int, raw_schema: StructType,
) -> tuple[DataFrame, int]:
    """S3+P1 read + typed transform → staging write (reference
    ``spark_jobs/transform_*.py``). Returns the staged month, read back
    from its files, and its row count."""
    raw = read_month(spark, root, "raw", table, yyyymm, schema=raw_schema)
    parsed = parse_raw_json(raw, tolerant_string_schema(fields))
    typed = transform_fn(parsed.drop("yyyymm"), yyyymm=None)
    typed, obs = _counted(typed.where(F.col("yyyymm") == F.lit(yyyymm)))
    write_month_idempotent(typed, root, "staging", f"{table}_monthly")
    staged = read_month(
        spark, root, "staging", f"{table}_monthly", yyyymm, schema=typed.schema
    )
    return staged, obs.get["rows"]


def _upsert_dim_snapshot(
    spark: SparkSession, root: str, name: str, incoming: DataFrame, pk: tuple[str, ...]
) -> int:
    """Read-modify-write of one dim snapshot; returns its row count.

    The commit is a compare-and-swap on the snapshot read here: a
    concurrent writer that committed this dim in between makes it fail
    with ``SnapshotConflictError`` instead of losing that writer's rows.
    A read failure of the live snapshot propagates (and commits
    nothing) — only a dim with no snapshot yet starts empty."""
    path = table_path(root, "curated", name)
    base = current_snapshot(path)
    existing = None if base is None else spark.read.parquet(os.path.join(path, base))
    merged, obs = _counted(upsert_dim(existing, incoming, pk=pk))
    # the write consumes the old snapshot's files before the atomic
    # pointer flip, so the read-modify-write input needs no checkpoint
    overwrite_snapshot(merged, root, "curated", name, expected_base=base)
    return obs.get["rows"]


def run_monthly_pipeline(
    spark: SparkSession,
    operator_dsv: str,
    lease_dsv: str,
    root: str,
    yyyymm: int,
) -> PipelineResult:
    """The full reference DAG for one month. Idempotent: rerunning the
    same month overwrites exactly that month's partitions.

    Row counts come from the writes themselves (``_counted``) and from
    the gate pass, and every read of a partition written in this call
    passes the written schema: no Spark job counts rows or infers a
    schema, except the standing dim snapshots' schema reads."""
    # extract (the reference fans these out; here they run in turn)
    op_raw = _extract_to_raw(spark, operator_dsv, root, "operator_cycle", yyyymm)
    lease_raw = _extract_to_raw(spark, lease_dsv, root, "lease_cycle", yyyymm)

    # transform to typed staging
    op, staging_op_rows = _transform(
        spark, root, "operator_cycle", OPERATOR_FIELDS, transform_operator_monthly,
        yyyymm, op_raw,
    )
    lease, staging_lease_rows = _transform(
        spark, root, "lease_cycle", LEASE_FIELDS, transform_lease_monthly,
        yyyymm, lease_raw,
    )

    # model curated: dims (upsert, which also dedups the month's rows)
    # and facts (month overwrite)
    dims = {
        "dim_operator": (op.select("operator_no", "operator_name"), ("operator_no",)),
        "dim_district": (lease.select("district_no"), ("district_no",)),
        "dim_field": (lease.select("field_no"), ("field_no",)),
        "dim_lease": (
            lease.select("lease_key", "district_no", "lease_no", "lease_name"),
            ("lease_key",),
        ),
    }
    dim_counts = {
        name: _upsert_dim_snapshot(spark, root, name, new, pk)
        for name, (new, pk) in dims.items()
    }

    fact_op = project_fact(op, ("operator_no",), MEASURES)
    fact_lease = project_fact(
        lease, ("lease_key", "operator_no", "district_no", "field_no"), MEASURES
    )
    write_month_idempotent(fact_op, root, "curated", "fact_operator_monthly")
    write_month_idempotent(fact_lease, root, "curated", "fact_lease_monthly")

    # DQ gates (hard, one pass per fact) + rollup reconciliation (soft, logged)
    f_op = read_month(
        spark, root, "curated", "fact_operator_monthly", yyyymm, schema=fact_op.schema
    )
    f_lease = read_month(
        spark, root, "curated", "fact_lease_monthly", yyyymm, schema=fact_lease.schema
    )
    fact_op_rows, fact_lease_rows = assert_fact_gates(
        [(f_op, ("operator_no", "yyyymm")), (f_lease, ("lease_key", "yyyymm"))],
        MEASURES,
    )
    mismatches = rollup_reconciliation_suite(
        f_op, f_lease, keys=("operator_no",), measures=MEASURES
    )
    result = PipelineResult(
        yyyymm=yyyymm,
        staging_operator_rows=staging_op_rows,
        staging_lease_rows=staging_lease_rows,
        fact_operator_rows=fact_op_rows,
        fact_lease_rows=fact_lease_rows,
        rollup_mismatches=mismatches.count(),
        dims=dim_counts,
    )
    # every output is written/counted above; free any operator-tracked
    # persists so a backfill over many months can't accumulate them
    cache.release()
    return result


def run_backfill(
    spark: SparkSession,
    operator_dsv: str,
    lease_dsv: str,
    root: str,
    months: list[int],
) -> list[PipelineResult]:
    """G2 generalized: sequential parameterized runs over a month list
    (the reference triggers one manual DAG run per month; partition
    overwrite makes re-running any subset safe). The month-partitioned
    layers never share a partition across months, but the four dim
    snapshots are read-modify-written by every month: months run
    concurrently race on them, and the loser's dim commit fails with
    ``SnapshotConflictError`` (re-run that month) rather than silently
    dropping the winner's dim rows."""
    return [
        run_monthly_pipeline(spark, operator_dsv, lease_dsv, root, m)
        for m in months
    ]
