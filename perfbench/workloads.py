"""The benchmark's workloads, driven through the package's public API.

Each workload is one client in a closed loop: the runner calls ``op()``
again only after the previous operation finished.

- ``vault``: one operation is one CDC cycle: an incremental batch through
  ``RawVault`` (staging, customer and orders hubs with satellites and
  effectivity satellites, the orders→customer link, the lineitem
  multilink, incremental PIT refresh), then a fixed deck of
  business-vault and curated reads of the refreshed vault.
- ``corpus_dedup``: a fixed ``run_pipeline`` spec (normalize →
  quality_score → c4_filter → exact_dedup → near_dedup) over a corpus with
  planted duplicates. No vault layer.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections.abc import Callable
from datetime import timedelta

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from pyspark_playground_spark import BusinessVault, Curated, RawVault
from pyspark_playground_spark.conventions import (
    ColumnDefinition,
    LinkedHubDefinition,
    VaultConfig,
)
from pyspark_playground_spark.operators import business_vault as bv
from pyspark_playground_spark.operators.curated import FieldDefinition
from pyspark_playground_spark.plans.pipeline import run_pipeline

ENTITIES = {
    # source table: (business key, satellite attributes with their types)
    "customer": ("c_custkey", {
        "c_name": T.StringType(), "c_nationkey": T.IntegerType(),
        "c_acctbal": T.DoubleType(), "c_mktsegment": T.StringType(),
    }),
    "orders": ("o_orderkey", {
        "o_custkey": T.LongType(), "o_orderstatus": T.StringType(),
        "o_totalprice": T.DoubleType(), "o_orderdate": T.TimestampType(),
        "o_orderpriority": T.StringType(),
    }),
}
LINEITEM_MEMBERS = [
    LinkedHubDefinition("orders", "l_orderkey"),
    LinkedHubDefinition("part", "l_partkey"),
    LinkedHubDefinition("supplier", "l_suppkey"),
]

CORPUS_SPEC = {
    "stages": [
        {"op": "normalize"},
        {"op": "quality_score"},
        {"op": "c4_filter", "params": {"min_tokens": 20}},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "params": {"threshold": 0.8}},
    ]
}


def noop_count(df: DataFrame) -> int:
    """Run ``df`` to completion into the noop sink; its row count rides
    along as an observed metric in the same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def data_files(path: str) -> dict[str, int]:
    """Data files (path → bytes) under ``path``; checksums and markers
    excluded."""
    return {
        os.path.join(root, n): os.path.getsize(os.path.join(root, n))
        for root, _, names in os.walk(path)
        for n in names
        if not n.startswith((".", "_"))
    }


class Vault:
    """One raw vault over the generated source system, loaded through
    ``RawVault`` exactly as a CDC-driven deployment would: customer and
    orders hubs with their satellites and effectivity satellites, the
    orders→customer link and the lineitem multilink."""

    def __init__(self, spark, warehouse: str) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.config = VaultConfig()
        self.rv = RawVault(spark, self.config)
        self.conv = self.rv.conv

    def create(self) -> None:
        rv, conv = self.rv, self.conv
        rv.initialize_database()
        for name, (key, attrs) in ENTITIES.items():
            rv.create_hub(name, [ColumnDefinition(key, T.LongType(), False)])
            rv.create_satellite(name, [ColumnDefinition(a, t) for a, t in attrs.items()])
        rv.create_link("orders_customer", [conv.hkey_of("orders"), conv.hkey_of("customer")])
        rv.create_link("lineitem", [conv.hkey_of(m.name) for m in LINEITEM_MEMBERS])

    def _stage(self, name: str, path: str, keys: list[str]) -> DataFrame:
        return self.rv.stage_table(
            name, path, load_date_column="LOAD_DATE",
            operation_column="OPERATION", hkey_columns=keys,
        )

    def _load(self, paths: dict[str, str], load_ts) -> dict[str, DataFrame]:
        rv = self.rv
        staged = {}
        for name in ENTITIES:
            key, attrs = ENTITIES[name]
            staged[name] = self._stage(name, paths[name], [key])
            rv.load_hub(staged[name], name, [key], satellites={name: list(attrs)}, load_ts=load_ts)
        rv.load_link(
            staged["orders"], "orders_customer", from_name="orders",
            to_name="customer", fk_column="o_custkey", load_ts=load_ts,
        )
        keys = [m.foreign_key for m in LINEITEM_MEMBERS]
        lines = self._stage("lineitem", paths["lineitem"], keys)
        rv.load_multilink(lines, "lineitem", LINEITEM_MEMBERS, load_ts=load_ts)
        return staged

    def bootstrap(self, paths: dict[str, str], load_ts) -> None:
        """Initial full load plus the PIT tables."""
        self.create()
        self._load(paths, load_ts)
        for name in ENTITIES:
            self.rv.create_point_in_time_table_for_single_satellite(name, name)

    def load_batch(self, batch: gen.Batch) -> None:
        staged = self._load(batch.paths, batch.load_time)
        for name in ENTITIES:
            self.rv.update_point_in_time_table_for_batch(
                name, name, staged[name].select(self.conv.hkey())
            )

    def raw_bytes(self) -> int:
        return sum(data_files(os.path.join(self.warehouse, f"{self.config.raw_database}.db")).values())

    def table_counts(self) -> dict[str, int]:
        """Row count of every raw-vault table, in one job."""
        db = self.config.raw_database
        names = [t.name for t in self.spark.catalog.listTables(db)]
        counts = None
        for n in names:
            c = self.spark.table(f"{db}.`{n}`").select(F.lit(n.upper()).alias("t")).groupBy("t").count()
            counts = c if counts is None else counts.unionByName(c)
        return {r["t"]: r["count"] for r in counts.collect()}


class Workload:
    """Base: ``setup()`` brings the program to its timed-start state and
    returns how long that took (``setup_s``); ``op()`` runs one operation to
    completion and returns the input rows it consumed; ``check()`` returns
    (checks made, mismatches); ``detail()`` adds to the detail record."""

    #: set by a traced run (layers.install)
    tracer = None

    def __init__(self, spark, workdir: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.warehouse = os.path.join(workdir, "warehouse")
        self.inputs = os.path.join(workdir, "inputs")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def setup(self) -> float:
        raise NotImplementedError

    def op(self) -> int:
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        raise NotImplementedError

    def detail(self) -> dict | None:
        return None


class VaultCycle(Workload):
    name = "vault"
    #: the read deck of a cycle: every (read kind, entity) once, in a fixed
    #: order; the seed picks the as-of times
    DECK = (
        ("snapshot_at", "customer"), ("hub_sat_pit", "customer"), ("hub", "customer"),
        ("curated", "customer"), ("linked", "orders"), ("snapshot_at", "orders"),
        ("hub_sat_pit", "orders"), ("hub", "orders"), ("curated", "orders"),
    )

    def setup(self) -> float:
        """Bootstrap the vault from the snapshot, then one untimed cycle
        (the first batch and deck pay the JIT and codegen warm-up)."""
        self.wh = gen.Warehouse(self.inputs, self.seed)
        snapshot = self.wh.snapshot()
        self.ledger = gen.Ledger(self.wh.snapshot_lines)
        self.rng = np.random.default_rng(self.seed + 1)
        #: per-kind latencies of every cycle (set-up cycle excluded)
        self.samples: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        self.vault = Vault(self.spark, self.warehouse)
        self.vault.bootstrap(snapshot, gen.T0 + gen.LOAD_LAG)
        self.bvault = BusinessVault(self.spark, self.vault.config)
        self.curated = Curated(self.spark, self.vault.config)
        self.curated.initialize_database()
        self.op()
        self.samples.clear()
        return time.perf_counter() - t0

    def _timed(self, kind: str, fn: Callable[[], int]) -> int:
        t0 = time.perf_counter()
        with self.span(f"read.{kind}" if kind != "batch" else "batch"):
            n = fn()
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return n

    def op(self) -> int:
        """One cycle: load the next CDC batch, then read the deck; returns
        the CDC rows loaded."""
        batch = self.wh.next_batch()
        self._timed("batch", lambda: self.vault.load_batch(batch))
        self.ledger.batches.append(batch)
        for kind, entity in self.DECK:
            u = float(self.rng.random())
            self._timed(kind, lambda k=kind, e=entity, u=u: self._read(k, e, u))
        return batch.cdc_rows

    def _tables(self, entity: str) -> tuple[DataFrame, DataFrame, DataFrame]:
        conv, db = self.vault.conv, self.vault.config.raw_database
        t = self.spark.table
        return (
            t(f"{db}.{conv.hub_name(entity)}"),
            t(f"{db}.{conv.sat_name(entity)}"),
            t(f"{db}.{conv.pit_name(entity)}"),
        )

    def _as_of(self, u: float):
        """A time between the snapshot and an hour past the last batch."""
        span = (self.ledger.batches[-1].event_time + gen.BATCH_EVERY - gen.T0).total_seconds()
        return gen.T0 + timedelta(seconds=int(u * span))

    def build(self, kind: str, entity: str, u: float) -> DataFrame:
        """Plan one read (jobs the package launches while planning run
        here too)."""
        conv = self.vault.conv
        attrs = list(ENTITIES[entity][1])
        if kind == "snapshot_at":
            hub, sat, pit = self._tables(entity)
            return bv.read_snapshot_at(hub, sat, pit, attrs, self._as_of(u))
        if kind == "hub_sat_pit":
            return self.bvault.read_data_from_hub_sat_and_pit(
                conv.hub_name(entity), conv.sat_name(entity), conv.pit_name(entity), attrs
            )
        if kind == "hub":
            return self.bvault.read_data_from_hub(entity, attrs)
        if kind == "linked":
            return self.bvault.join_linked_hubs(
                "orders", "customer", "orders_customer",
                ["o_totalprice", "o_orderstatus"], ["c_acctbal", "c_mktsegment"],
            )
        return self.curated.map_source_table_to_curated(
            entity, attrs, [FieldDefinition(a, a.upper()) for a in attrs],
            target_table=f"{entity}_curated",
        )

    def _read(self, kind: str, entity: str, u: float) -> int:
        with self.span(f"build.{kind}"):
            df = self.build(kind, entity, u)
        with self.span(f"action.{kind}"):
            return noop_count(df)

    def check(self) -> tuple[int, list[str]]:
        """Every raw-vault table holds the row count the generator's
        ledger predicts, and as-of reads at seeded times equal DuckDB's
        answer over the generated CDC files."""
        import duckdb

        expected = self.ledger.expected()
        got = self.vault.table_counts()
        bad = [
            f"{t}: {got.get(t)} rows, ledger says {n}"
            for t, n in expected.items() if got.get(t) != n
        ]
        made = len(expected)
        rng = np.random.default_rng(self.seed + 2)
        files = [self.wh.snapshot_paths] + [b.paths for b in self.ledger.batches]
        for entity, (key, attrs) in ENTITIES.items():
            cols = [a for a, t in attrs.items() if not isinstance(t, T.TimestampType)]
            paths = [f[entity] for f in files]
            for _ in range(2):
                as_of = self._as_of(float(rng.random()))
                hub, sat, pit = self._tables(entity)
                spark_rows = sorted(
                    tuple(r) for r in bv.read_snapshot_at(hub, sat, pit, list(attrs), as_of)
                    .select(key, *cols).collect()
                )
                duck_rows = sorted(duckdb.sql(_as_of_sql(paths, key, cols, as_of)).fetchall())
                made += 1
                if spark_rows != duck_rows:
                    bad.append(
                        f"{entity} as of {as_of}: {len(spark_rows)} rows, DuckDB {len(duck_rows)}"
                    )
        return made, bad

    def detail(self) -> dict:
        """Per-kind latencies inside the timed cycles, with sample counts."""
        import statistics

        return {
            kind: {"n": len(v), "p50_s": statistics.median(v), "max_s": max(v)}
            for kind, v in self.samples.items()
        }

    def cdc_bytes(self) -> int:
        return self.wh.snapshot_bytes + sum(b.cdc_bytes for b in self.ledger.batches)


def _as_of_sql(paths: list[str], key: str, cols: list[str], as_of) -> str:
    """State of one entity at ``as_of`` from its CDC history: the latest
    create/update/snapshot at or before ``as_of``, unless a later delete at
    or before ``as_of`` closed it."""
    files = ", ".join(f"'{p}'" for p in paths)
    ts = f"TIMESTAMPTZ '{as_of.isoformat()}+00:00'"
    sel = ", ".join(f"v.{c}" for c in cols)
    return f"""
        WITH ev AS (SELECT * FROM read_parquet([{files}])),
        v AS (
            SELECT * FROM ev WHERE OPERATION IN (0, 2, 4) AND LOAD_DATE <= {ts}
            QUALIFY row_number() OVER (PARTITION BY {key} ORDER BY LOAD_DATE DESC) = 1
        )
        SELECT v.{key}, {sel} FROM v
        WHERE NOT EXISTS (
            SELECT 1 FROM ev d WHERE d.OPERATION = 1 AND d.{key} = v.{key}
              AND d.LOAD_DATE > v.LOAD_DATE AND d.LOAD_DATE <= {ts}
        )
    """


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def setup(self) -> float:
        """Generate and load the corpus, then one untimed pipeline run
        (the first run pays the JIT and codegen warm-up)."""
        self.corpus = gen.make_corpus(self.inputs, self.seed)
        self.results: list[tuple[int, int, int]] = []
        t0 = time.perf_counter()
        self.docs = self.spark.read.parquet(self.corpus.path)
        self.op()
        return time.perf_counter() - t0

    def op(self) -> int:
        """One pipeline run into the noop sink; the survivor count, an
        order-free hash of the surviving ids and the number of surviving
        planted copies ride along as observed metrics."""
        obs = Observation()
        copies = self.corpus.exact_copies
        out = run_pipeline(self.docs, CORPUS_SPEC)
        with self.span("action.pipeline"):
            out.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("doc_id")).alias("h"),
                F.count(F.when(F.col("doc_id").between(copies.start, copies.stop - 1), 1)).alias("copies"),
            ).write.format("noop").mode("overwrite").save()
        r = obs.get
        self.results.append((int(r["n"]), int(r["h"] or 0), int(r["copies"])))
        return self.corpus.n_docs

    def check(self) -> tuple[int, list[str]]:
        """Every planted exact copy is gone, and every run (the set-up run
        included) kept the same survivors."""
        bad = [
            f"run {i}: {c} planted exact copies survived"
            for i, (_, _, c) in enumerate(self.results) if c
        ]
        if len(set(self.results)) > 1:
            bad.append(f"survivors differ across runs: {sorted(set(self.results))}")
        return len(self.results), bad

    def docs_into_dedup(self) -> int:
        """Docs that reach the dedup stages (after the quality filter)."""
        return run_pipeline(self.docs, {"stages": CORPUS_SPEC["stages"][:3]}).count()


WORKLOADS = {w.name: w for w in (VaultCycle, CorpusDedup)}
