"""The benchmark's workloads. Each one generates its inputs from the
seed, runs one pass through the package's public functions, and checks
the pass's outputs against the generator's expectations or an oracle.

A pass records one span per operation (a month, a query, a trigger) on
the tracer it is given; the traced run adds spans around the layers
below.
"""

from __future__ import annotations

import os

import gen

PKG = "novi_pdq_etl_project_prod_spark"
PIPE = f"{PKG}.plans.pipeline"
INGEST = f"{PKG}.plans.ingest"
LAYERS = f"{PKG}.sources.layers"

#: (module the caller looks the name up in, name, span name) — the
#: layer calls the traced run wraps, named after the package modules.
PIPELINE_LAYERS = [
    (PIPE, "read_dsv", "sources.dsv.read_dsv"),
    (PIPE, "encode_raw_json", "sources.json_raw.encode_raw_json"),
    (PIPE, "parse_raw_json", "sources.json_raw.parse_raw_json"),
    (PIPE, "write_month_idempotent", "sources.layers.write_month_idempotent"),
    (PIPE, "overwrite_snapshot", "sources.layers.overwrite_snapshot"),
    (PIPE, "read_month", "sources.layers.read_month"),
    (PIPE, "transform_operator_monthly", "operators.transform"),
    (PIPE, "transform_lease_monthly", "operators.transform"),
    (PIPE, "dedup_dim", "operators.modeling"),
    (PIPE, "upsert_dim", "operators.modeling"),
    (PIPE, "project_fact", "operators.modeling"),
    (PIPE, "assert_non_negative", "operators.quality"),
    (PIPE, "assert_unique_grain", "operators.quality"),
    (PIPE, "rollup_reconciliation_suite", "operators.quality"),
]

#: ``run_incremental_ingest`` imports the two ``sources.layers``
#: functions inside its body, so they are wrapped in their own module.
INGEST_LAYERS = [
    (INGEST, "ingest_increment", "plans.ingest.ingest_increment"),
    (LAYERS, "commit_tables", "sources.layers.commit_tables"),
    (LAYERS, "read_manifest_table", "sources.layers.read_manifest_table"),
]

#: the funnel's dispositions, reported per layer on corpus_ingest
INGEST_COUNTS = ("accepted", "exact_dups", "near_dups", "quarantined", "span_docs")

#: name and unit of each count a workload's ``layer_counts`` reports
COUNT_UNITS = {
    "sources.layers.bytes_written_mb": "MB",
    "sources.layers.files_written": "count",
    "sources.layers.segments": "count",
    "bytes_written_per_input_byte": "ratio",
    "cache.leaked_persists": "count",
    **{f"ingest.{k}": "count" for k in INGEST_COUNTS},
}

CATALOG_QUERIES = (
    "a1_monthly_fact j1_star_join a4_dedup_latest t1_pricing_summary "
    "r2_cube w3_moving_sum x1_asof_join x3_sessionize x2_salted_agg "
    "d23_sample_quantiles m53_copurchase_triangles"
).split()


def dir_stats(root: str) -> dict:
    """Bytes and parquet files under ``root``, and snapshot directories
    (``_snap_v*``: one per snapshot commit still on disk)."""
    size = files = snaps = 0
    for dirpath, dirnames, filenames in os.walk(root):
        snaps += sum(d.startswith("_snap_v") for d in dirnames)
        for f in filenames:
            size += os.path.getsize(os.path.join(dirpath, f))
            files += f.endswith(".parquet")
    return {"bytes": size, "files": files, "segments": snaps}


class PipelineBackfill:
    """``plans.pipeline.run_backfill`` over two months into an empty
    warehouse; an operation is one month (``run_monthly_pipeline``)."""

    name = "pipeline_backfill"
    op_spans = {"plans.pipeline.run_monthly_pipeline"}
    op_target = (PIPE, "run_monthly_pipeline", "plans.pipeline.run_monthly_pipeline")
    layers = PIPELINE_LAYERS
    MONTHS = [202301, 202302]

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.expect = gen.pipeline_inputs(
            seed, os.path.join(work, "inputs"), self.MONTHS,
            n_operators=300, leases_per_operator=10,
        )
        self.input_bytes = self.expect["input_bytes"]
        self.passes = 0

    def run_pass(self, spark, tracer) -> dict:
        from novi_pdq_etl_project_prod_spark.plans import pipeline

        self.passes += 1
        root = os.path.join(self.work, f"warehouse-{self.passes}")
        out = {"root": root, "results": [], "error": None}
        try:
            out["results"] = pipeline.run_backfill(
                spark, self.expect["operator_dsv"], self.expect["lease_dsv"],
                root, list(self.MONTHS),
            )
        except Exception as e:  # a failed month fails the pass's checks
            out["error"] = repr(e)
        return out

    def check(self, spark, out) -> tuple[int, list[str]]:
        """(operations attempted, failures) — one failure per bad month."""
        from novi_pdq_etl_project_prod_spark.sources.layers import read_month

        if out["error"]:  # run_backfill raised: no month was delivered
            return len(self.MONTHS), [f"{m}: {out['error']}" for m in self.MONTHS]
        exp, root = self.expect, out["root"]
        failures = []
        for res in out["results"]:
            m = res.yyyymm
            want = exp["per_month"][str(m)]
            problems = []
            if res.rollup_mismatches != 0:
                problems.append(f"rollup_mismatches={res.rollup_mismatches}")
            got_rows = (res.staging_operator_rows, res.fact_operator_rows,
                        res.staging_lease_rows, res.fact_lease_rows)
            want_rows = (want["fact_operator_rows"],) * 2 + (want["fact_lease_rows"],) * 2
            if got_rows != want_rows:
                problems.append(f"rows {got_rows} != {want_rows}")
            for table, key, expected in (
                ("fact_operator_monthly", "operator_no", exp["fact_operator_cents"]),
                ("fact_lease_monthly", "lease_key", exp["fact_lease_cents"]),
            ):
                rows = read_month(spark, root, "curated", table, m).collect()
                got = {
                    f"{r[key]}|{m}": [round(r[c] * 100) for c in gen.MEASURES]
                    for r in rows
                }
                want_t = {k: v for k, v in expected.items() if k.endswith(f"|{m}")}
                if len(rows) != len(got) or got != want_t:
                    problems.append(f"{table} totals differ")
            if m == self.MONTHS[-1]:
                dims = {d: read_month(spark, root, "curated", d).count() for d in exp["dims"]}
                if dims != exp["dims"] or res.dims != exp["dims"]:
                    problems.append(f"dims {dims} / {res.dims} != {exp['dims']}")
            if problems:
                failures.append(f"{m}: " + "; ".join(problems))
        return len(self.MONTHS), failures

    def layer_counts(self, out) -> dict:
        st = dir_stats(out["root"])
        return {
            "sources.layers.bytes_written_mb": st["bytes"] / 1e6,
            "sources.layers.files_written": st["files"],
            "sources.layers.segments": st["segments"],
            "bytes_written_per_input_byte": st["bytes"] / self.input_bytes,
        }


class _Collected:
    """A result collected during the timed pass, handed to the oracle
    comparison in place of a DataFrame so the query is not re-run."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class CatalogAnalytics:
    """Eleven oracled, read-only catalog queries over seeded star-schema
    tables; an operation is one query, built then collected, with the
    session's caches cleared between queries.

    The order is fixed: the first queries of a fresh JVM pay its JIT
    warm-up, so a seeded order moves that cost between queries and
    spread the median query latency by some 40% across seeds."""

    name = "catalog_analytics"
    op_spans = {f"catalog.{q}" for q in CATALOG_QUERIES}
    op_target = None
    layers: list = []

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.expect = gen.catalog_tables(seed, os.path.join(work, "tables"), n_orders=7500)
        self.input_bytes = self.expect["input_bytes"]

    def run_pass(self, spark, tracer) -> dict:
        from novi_pdq_etl_project_prod_spark import cache
        from novi_pdq_etl_project_prod_spark.catalog import QUERIES

        sf = self.expect["sf_dir"]
        jsc = spark.sparkContext._jsc
        out = {"results": {}, "errors": {}, "leaked_persists": 0}
        for q in CATALOG_QUERIES:
            with tracer.span(f"catalog.{q}"):
                try:
                    with tracer.span("catalog.build"):
                        df = QUERIES[q](spark, sf)
                    with tracer.span("catalog.execute"):
                        out["results"][q] = df.toPandas()
                except Exception as e:
                    out["errors"][q] = repr(e)
            # persists the query left behind, then the bench.py boundary
            out["leaked_persists"] += jsc.getPersistentRDDs().size()
            cache.clear_session_state(spark)
        return out

    def check(self, spark, out) -> tuple[int, list[str]]:
        from novi_pdq_etl_project_prod_spark.catalog import ORACLES

        compare_query = _oracle_harness().compare_query
        failures = [f"{q}: {e}" for q, e in out["errors"].items()]
        for q, pdf in out["results"].items():
            rep = compare_query(
                spark, lambda *_: _Collected(pdf), ORACLES[q], self.expect["sf_dir"]
            )
            if not rep["match"]:
                failures.append(f"{q}: {rep['detail']}")
        return len(CATALOG_QUERIES), failures

    def layer_counts(self, out) -> dict:
        return {"cache.leaked_persists": out["leaked_persists"]}


class CorpusIngest:
    """Seeded document batches streamed through
    ``plans.ingest.run_incremental_ingest`` with the span stage on; an
    operation is one trigger. Each batch lands in the stream's source
    directory before its own ``availableNow`` run, so every call is
    exactly one micro-batch, as when a scheduler starts the ingest once
    per arriving batch."""

    name = "corpus_ingest"
    op_spans = {"plans.ingest.run_incremental_ingest"}
    op_target = (INGEST, "run_incremental_ingest", "plans.ingest.run_incremental_ingest")
    layers = INGEST_LAYERS
    BATCHES, BATCH_DOCS, SPAN_K = 1, 100, 8

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.expect = gen.corpus_batches(
            seed, os.path.join(work, "batches"), self.BATCHES, self.BATCH_DOCS, self.SPAN_K
        )
        self.input_bytes = self.expect["input_bytes"]
        self.passes = 0

    def run_pass(self, spark, tracer) -> dict:
        import shutil

        from novi_pdq_etl_project_prod_spark.plans import ingest
        from novi_pdq_etl_project_prod_spark.sources.layers import read_manifest_meta

        self.passes += 1
        base = os.path.join(self.work, f"ingest-{self.passes}")
        src, root = os.path.join(base, "source"), os.path.join(base, "warehouse")
        os.makedirs(src)
        out = {"root": root, "counts": [], "error": None}
        try:
            for path in self.expect["batches"]:
                shutil.copy(path, src)
                stream = spark.readStream.schema("doc_id long, text string").parquet(src)
                ingest.run_incremental_ingest(
                    stream, root, "curated", os.path.join(base, "checkpoint"),
                    gen.INGEST_RULES, span_k=self.SPAN_K,
                )
                # a small JSON read: the trigger's cumulative funnel counts
                out["counts"].append(
                    read_manifest_meta(root, "curated").get("ingest_counts:corpus")
                )
        except Exception as e:  # the remaining triggers fail the checks
            out["error"] = repr(e)
        return out

    def check(self, spark, out) -> tuple[int, list[str]]:
        """(operations attempted, failures) — one failure per trigger
        whose cumulative ``ingest_counts`` differ from the generator's."""
        want = self.expect["ingest_counts"]
        failures = [
            f"trigger {i}: ingest_counts {got} != {exp}"
            for i, (got, exp) in enumerate(zip(out["counts"], want))
            if got != exp
        ]
        failures += [
            f"trigger {i}: {out['error']}" for i in range(len(out["counts"]), len(want))
        ]
        return len(want), failures

    def layer_counts(self, out) -> dict:
        st = dir_stats(out["root"])
        return {
            "sources.layers.bytes_written_mb": st["bytes"] / 1e6,
            "sources.layers.files_written": st["files"],
            "sources.layers.segments": st["segments"],
            "bytes_written_per_input_byte": st["bytes"] / self.input_bytes,
            **{f"ingest.{k}": ((out["counts"] or [None])[-1] or {}).get(k, 0)
               for k in INGEST_COUNTS},
        }


def _oracle_harness():
    """``tests/oracle_harness.py`` of the checkout, loaded by path."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (PipelineBackfill, CatalogAnalytics, CorpusIngest)}
