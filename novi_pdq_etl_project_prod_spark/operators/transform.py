"""Typed monthly-grain transforms (SURVEY.md §2.2 P1-P5, §2.3, §2.4 A1-A2).

Re-expresses the reference's two Spark transform jobs
(``spark_jobs/transform_operator.py``, ``spark_jobs/transform_lease.py``)
as pure ``DataFrame -> DataFrame`` functions over the raw layer:

  raw JSON rows ──parse_raw_json──▶ tolerant strings
      ──robust casts (E1-E3) / yyyymm derive (E4) / lease_key (E5)──▶ typed
      ──month filter (P3) + validity floor (P4)──▶ month slice
      ──grain-enforcing agg (A1)──▶ one row per (entity, month)

Everything is a single lazy plan per table: Catalyst fuses the projections
into one whole-stage-codegen stage over the scan, and the only shuffle is
the final grain aggregation (partial/final HashAggregate with map-side
combine). The reference runs count + write as two uncached executions of
the same plan (SURVEY.md §3.2 step 4 vs 6). Here the plan executes once
per month: ``plans.pipeline`` takes the staging row count from a
``df.observe`` on the staging write itself, and the dims and facts read
the written staging month back from its files rather than re-running
the transform; diagnostics (``duplicate_groups``) are separate optional
functions, off the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.functions.casts import (
    to_int_robust,
    to_num_zero_default,
)
from novi_pdq_etl_project_prod_spark.functions.keys import (
    YYYYMM_FLOOR,
    composite_key,
    derive_yyyymm,
)

#: Parse-schema field lists (reference ``transform_operator.py:55-65`` and
#: ``transform_lease.py:62-80``). The lease schema tolerates two naming
#: variants of each volume column; the ``LEASE_``-prefixed ones are the
#: ones actually aggregated (reference ``transform_lease.py:90-93``).
OPERATOR_FIELDS = [
    "OPERATOR_NO",
    "OPERATOR_NAME",
    "CYCLE_YEAR",
    "CYCLE_MONTH",
    "CYCLE_YEAR_MONTH",
    "OPER_OIL_PROD_VOL",
    "OPER_GAS_PROD_VOL",
    "OPER_COND_PROD_VOL",
    "OPER_CSGD_PROD_VOL",
]
LEASE_FIELDS = [
    "OPERATOR_NO",
    "DISTRICT_NO",
    "FIELD_NO",
    "LEASE_NO",
    "LEASE_NAME",
    "CYCLE_YEAR",
    "CYCLE_MONTH",
    "CYCLE_YEAR_MONTH",
    "OIL_PROD_VOL",
    "GAS_PROD_VOL",
    "COND_PROD_VOL",
    "CSGD_PROD_VOL",
    "LEASE_OIL_PROD_VOL",
    "LEASE_GAS_PROD_VOL",
    "LEASE_COND_PROD_VOL",
    "LEASE_CSGD_PROD_VOL",
]

MEASURES = ("oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf")


def _with_yyyymm(df: DataFrame) -> DataFrame:
    """E4 derivation + P4 validity/floor filter."""
    return df.withColumn(
        "yyyymm", derive_yyyymm("CYCLE_YEAR_MONTH", "CYCLE_YEAR", "CYCLE_MONTH")
    ).where(F.col("yyyymm").isNotNull() & (F.col("yyyymm") >= F.lit(YYYYMM_FLOOR)))


def transform_operator_monthly(raw: DataFrame, yyyymm: int | None = None) -> DataFrame:
    """String-schema operator-cycle rows → typed ``staging.operator_monthly``.

    Faithful to reference ``spark_jobs/transform_operator.py:76-96``:
    - null ``OPERATOR_NO`` → **0 sentinel** (E8) — note this deliberately
      concentrates unknown operators into one group key; at scale AQE
      skew-join handling covers the resulting hot partition;
    - blank/null measures → 0.0 (E3), never null;
    - the operator file is already at (operator, month) grain so no A1 agg.
    """
    df = _with_yyyymm(raw)
    if yyyymm is not None:
        df = df.where(F.col("yyyymm") == F.lit(int(yyyymm)))
    return df.select(
        F.coalesce(to_int_robust("OPERATOR_NO"), F.lit(0)).alias("operator_no"),
        F.trim(F.col("OPERATOR_NAME")).alias("operator_name"),
        F.col("yyyymm"),
        to_num_zero_default("OPER_OIL_PROD_VOL").alias("oil_bbl"),
        to_num_zero_default("OPER_GAS_PROD_VOL").alias("gas_mcf"),
        to_num_zero_default("OPER_COND_PROD_VOL").alias("cond_bbl"),
        to_num_zero_default("OPER_CSGD_PROD_VOL").alias("csgd_mcf"),
    )


def transform_lease_monthly(raw: DataFrame, yyyymm: int | None = None) -> DataFrame:
    """String-schema lease-cycle rows → typed ``staging.lease_monthly`` at
    enforced (lease_key, yyyymm) grain.

    Faithful to reference ``spark_jobs/transform_lease.py:85-134``:
    - keys cast via E1 (null stays null except operator sentinel);
    - ``lease_key = "{district}-{lease}"`` built from *casted ints
      re-stringified* (E5 — ``"08"`` → ``8`` → ``"8-..."``);
    - grain enforced by ``groupBy.agg(first(ignorenulls) ×attrs, sum ×measures)``
      (A1). ``first(ignorenulls=True)`` is order-dependent in the reference;
      kept here for fidelity — use ``max`` via ``deterministic=True`` when a
      canonical survivor is required (the oracle harness does).
    """
    df = _with_yyyymm(raw)
    if yyyymm is not None:
        df = df.where(F.col("yyyymm") == F.lit(int(yyyymm)))
    district = to_int_robust("DISTRICT_NO")
    lease = to_int_robust("LEASE_NO")
    typed = df.select(
        F.coalesce(to_int_robust("OPERATOR_NO"), F.lit(0)).alias("operator_no"),
        district.alias("district_no"),
        to_int_robust("FIELD_NO").alias("field_no"),
        lease.alias("lease_no"),
        F.trim(F.col("LEASE_NAME")).alias("lease_name"),
        composite_key(district, lease).alias("lease_key"),
        F.col("yyyymm"),
        to_num_zero_default("LEASE_OIL_PROD_VOL").alias("oil_bbl"),
        to_num_zero_default("LEASE_GAS_PROD_VOL").alias("gas_mcf"),
        to_num_zero_default("LEASE_COND_PROD_VOL").alias("cond_bbl"),
        to_num_zero_default("LEASE_CSGD_PROD_VOL").alias("csgd_mcf"),
    )
    return enforce_monthly_grain(
        typed,
        keys=("lease_key", "yyyymm"),
        attrs=("operator_no", "district_no", "field_no", "lease_no", "lease_name"),
        measures=MEASURES,
    )


def enforce_monthly_grain(
    df: DataFrame,
    keys: tuple[str, ...],
    attrs: tuple[str, ...],
    measures: tuple[str, ...],
    deterministic: bool = False,
) -> DataFrame:
    """A1 — collapse duplicates to key grain: attrs survive via
    ``first(ignorenulls=True)`` (reference ``transform_lease.py:121-134``),
    measures sum. ``deterministic=True`` swaps ``first`` for ``max`` so the
    survivor is canonical (needed for oracle comparison; SURVEY.md §7.3).

    Scale note: this is one shuffle on the grain keys with map-side partial
    aggregation; no windowing, no second pass.
    """
    surv = (lambda c: F.max(c)) if deterministic else (
        lambda c: F.first(c, ignorenulls=True)
    )
    agg_exprs = [surv(a).alias(a) for a in attrs] + [
        F.sum(m).alias(m) for m in measures
    ]
    out = df.groupBy(*[F.col(k) for k in keys]).agg(*agg_exprs)
    # restore reference column order: attrs, keys-interleaved layout is
    # (keys..., attrs..., measures...) here; order is cosmetic for parquet
    return out


def duplicate_groups(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """A2/P7 — duplicate-group diagnostic: key groups with count > 1,
    largest first (reference ``transform_lease.py:112-118``)."""
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .orderBy(F.desc("n"), *[F.col(k) for k in keys])
    )
