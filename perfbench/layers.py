"""Per-layer metrics of a traced run.

``install`` sets span wrappers around the public functions at each layer
boundary the workloads cross (from the benchmark's files; the package is
untouched). ``report`` reads Spark's status stores, attributes jobs,
stages and SQL executions to the spans, and reduces them to the per-layer
metrics of ``BENCHMARK.json``. Every metric is reported by every workload;
a layer a workload bypasses reads 0.

Normalisation: ``<layer>.<fn>.calls`` / ``.ms`` / ``.jobs`` and the
``spark.*`` counters are per operation of the workload (per vault cycle,
per pipeline run). The read-kind metrics of ``business_vault`` and
``curated`` are per read of that kind.
"""

from __future__ import annotations

import os
import statistics

import tracing
from workloads import VaultCycle, data_files
from pyspark_playground_spark.operators import dedup as dd
from pyspark_playground_spark.operators import graph as gr
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.operators import text as tx
from pyspark_playground_spark.operators import vault
from pyspark_playground_spark.plans import pipeline
from pyspark_playground_spark.sources import catalog

VAULT_METHODS = (
    "stage_table", "load_hub", "load_link", "load_multilink",
    "update_point_in_time_table_for_batch",
)
RAW_VAULT_FNS = (
    "prepare_staging", "hub_rows", "satellite_rows", "effectivity_rows",
    "link_rows", "multilink_rows",
)
CORPUS_FNS = (
    (pipeline, "pipeline", ("run_pipeline",)),
    (tx, "text", ("normalize_text", "repetition_metrics", "quality_score", "c4_style_filter")),
    (dd, "dedup", ("exact_dedup", "minhash_dedup_pairs")),
    (gr, "graph", ("dedup_clusters", "connected_components")),
)
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms",
    "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
)


def _table_files(warehouse: str, database: str, name: str) -> dict[str, int]:
    """Data files (path → bytes) of a catalog table; the catalog keeps the
    table directory's name in lower case."""
    return data_files(os.path.join(warehouse, f"{database}.db", name.lower()))


def install(spark, workload) -> tracing.Tracer:
    """Wrap the layer boundaries in spans and hand the tracer to the
    workload, which adds its op, batch and read spans."""
    t = tracing.Tracer(spark)
    for m in VAULT_METHODS:
        t.wrap(vault.RawVault, m, f"vault.{m}")
    for f in RAW_VAULT_FNS:
        t.wrap(rv, f, f"raw_vault.{f}")

    def before_write(args, kwargs):
        database, name = args[1], args[2]
        return database, name, _table_files(workload.warehouse, database, name)

    def after_write(state, rec):
        database, name, old = state
        new = _table_files(workload.warehouse, database, name)
        added = {p: b for p, b in new.items() if p not in old}
        rec.update(
            database=database, table=name,
            files_written=len(added), bytes_written=sum(added.values()),
        )

    t.wrap(catalog, "write_table", "catalog.write_table", before_write, after_write)
    for mod, layer, fns in CORPUS_FNS:
        for f in fns:
            t.wrap(mod, f, f"{layer}.{f}")
    workload.tracer = t
    return t


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def report(spark, workload, tracer: tracing.Tracer, times: list[float]) -> tuple[dict, list]:
    """Attribute Spark's records to the spans and reduce them to the
    per-layer metrics; returns (metrics, spans)."""
    jobs, stages, executions = tracing.StatusStoreReader(spark).read()
    spans = tracer.spans
    tracing.attribute(spans, jobs, stages, executions)
    ops = [s for s in spans if s["name"] == "op"]
    n_ops = len(ops)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    m: dict[str, tuple[float, str]] = {}

    def fn_metrics(name: str, with_calls: bool = True) -> None:
        calls = by_name.get(name, [])
        if with_calls:
            m[f"{name}.calls"] = (_per(len(calls), n_ops), "count")
        m[f"{name}.ms"] = (_per(sum(s["wall_ms"] for s in calls), n_ops), "ms")
        m[f"{name}.jobs"] = (_per(sum(s["incl"]["jobs"] for s in calls), n_ops), "count")

    # operators.vault
    for f in VAULT_METHODS:
        m[f"vault.{f}.ms"] = (
            _per(sum(s["wall_ms"] for s in by_name.get(f"vault.{f}", [])), n_ops), "ms"
        )
    # operators.raw_vault
    for f in RAW_VAULT_FNS:
        fn_metrics(f"raw_vault.{f}")
    writes = by_name.get("catalog.write_table", [])
    wl_vault = getattr(workload, "vault", None)
    staged_rows = appended_rows = 0
    if wl_vault is not None:
        vconf = wl_vault.config
        for s in writes:
            if s["database"] == vconf.staging_prepared_database:
                staged_rows += s["incl"]["output_records"]
            elif s["database"] == vconf.raw_database and not s["table"].startswith("PIT__"):
                appended_rows += s["incl"]["output_records"]
    m["raw_vault.rows_appended_per_staged_row"] = (
        appended_rows / staged_rows if staged_rows else 0.0, "ratio"
    )
    m["raw_vault.bytes_per_source_byte"] = (
        wl_vault.raw_bytes() / workload.cdc_bytes() if wl_vault is not None else 0.0,
        "ratio",
    )
    # sources.catalog
    fn_metrics("catalog.write_table")
    m["catalog.write_table.output_bytes"] = (
        _per(sum(s["bytes_written"] for s in writes), n_ops), "bytes"
    )
    m["catalog.write_table.files_written"] = (
        _per(sum(s["files_written"] for s in writes), n_ops), "count"
    )
    # operators.business_vault / operators.curated, per read kind
    for kind in dict.fromkeys(k for k, _ in VaultCycle.DECK):
        name = f"read.{kind}"
        kind_ops = by_name.get(name, [])
        builds = by_name.get(f"build.{kind}", [])
        actions = by_name.get(f"action.{kind}", [])
        n = len(kind_ops)
        m[f"{name}.build_ms"] = (_per(sum(s["wall_ms"] for s in builds), n), "ms")
        m[f"{name}.action_ms"] = (_per(sum(s["wall_ms"] for s in actions), n), "ms")
        m[f"{name}.shuffle_read_bytes"] = (
            _per(sum(s["incl"]["shuffle_read_bytes"] for s in kind_ops), n), "bytes"
        )
        m[f"{name}.shuffle_write_bytes"] = (
            _per(sum(s["incl"]["shuffle_write_bytes"] for s in kind_ops), n), "bytes"
        )
    # plans.pipeline, operators.text / dedup / graph
    for _, layer, fns in CORPUS_FNS:
        for f in fns:
            fn_metrics(f"{layer}.{f}", with_calls=False)
    m["pipeline.action_ms"] = (
        _per(sum(s["wall_ms"] for s in by_name.get("action.pipeline", [])), n_ops), "ms"
    )
    docs_in = workload.docs_into_dedup() if hasattr(workload, "docs_into_dedup") else 0
    survivors = workload.results[0][0] if docs_in else 0
    m["dedup.docs_removed_per_doc_in"] = (
        (docs_in - survivors) / docs_in if docs_in else 0.0, "ratio"
    )
    # Spark engine counters, per op
    for c in SPARK_COUNTERS:
        unit = "ms" if c.endswith("_ms") else "bytes" if c.endswith("_bytes") else "count"
        m[f"spark.{c}"] = (_per(sum(s["incl"][c] for s in ops), n_ops), unit)
    m["sql.executions"] = (_per(sum(s["incl"]["sql_executions"] for s in ops), n_ops), "count")
    m["sql.plan_ms"] = (_per(sum(s["incl"]["sql_plan_ms"] for s in ops), n_ops), "ms")
    m["driver_idle_ms"] = (_per(sum(s["idle_ms"] for s in ops), n_ops), "ms")
    # the traced run itself
    m["trace.ops"] = (float(n_ops), "count")
    m["trace.op_p50_s"] = (statistics.median(times), "s")
    m["trace.overhead_ms_per_op"] = (_per(tracer.overhead_s * 1000.0, n_ops), "ms")
    return m, spans
