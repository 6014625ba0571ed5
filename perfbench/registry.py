"""The registry workload: a handful of the engine's headline queries over
small seeded tables, each built with ``spec.fn(spark, tables)`` and
``.collect()``-ed, in sorted name order.

Every pass's results are compared with the query's DuckDB oracle, computed
once per run over the same parquet files (outside every timing).
"""

from __future__ import annotations

import time

import duckdb
import pandas as pd
import tables
from workloads import CheckFailed

from clickbom_spark.queries import REGISTRY


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by value, timestamps at µs."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def oracle_frames(path: str, names: list[str]) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/{t}.parquet'")
        return {n: canon(con.execute(REGISTRY[n].oracle).df()) for n in names}
    finally:
        con.close()


class RegistryHeadline:
    """The registry workload: one pass runs every query in ``tables.QUERIES``."""

    name = "registry_headline"
    # Many small plans: passes keep getting faster until about the fifth.
    warmup_passes = 5

    def __init__(self, root: str, seed: int):
        self.path = root
        self.input_bytes = tables.write_tables(root, seed)
        self.queries = sorted(tables.QUERIES)
        self.expected = oracle_frames(root, self.queries)
        self.results: dict[str, pd.DataFrame] = {}

    def run_pass(self, spark, out: str) -> None:
        self.results = {}
        for name in self.queries:
            df = REGISTRY[name].fn(spark, self.path)
            self.results[name] = (df.columns, df.collect())

    def check(self, out: str) -> None:
        for name in self.queries:
            columns, rows = self.results[name]
            got = canon(pd.DataFrame([tuple(r) for r in rows], columns=columns))
            want = self.expected[name]
            if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                raise CheckFailed(f"{name}: {len(got)} rows {list(got.columns)} vs {len(want)} {list(want.columns)}")
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except AssertionError as e:
                raise CheckFailed(f"{name}: values differ from the oracle: {e}") from e

    def trace(self, loop, stats) -> dict[str, float]:
        """One traced pass: each query's builder call and its action under
        job groups of their own, plus the Catalyst phases of its plan."""
        spark = loop.spark
        jsc = spark.sparkContext._jsc
        m: dict[str, float] = {}

        def traced(out: str) -> None:
            start = time.perf_counter()
            totals = dict.fromkeys(("builder_s", "exec_s", "plan_s", "builder_jobs", "exec_jobs", "shuffle_bytes", "spill_bytes"), 0.0)
            self.results = {}
            for name in self.queries:
                with stats.call(f"{name}.builder") as b:
                    df = REGISTRY[name].fn(spark, self.path)
                with stats.call(f"{name}.exec") as x:
                    rows = df.collect()
                self.results[name] = (df.columns, rows)
                m[f"queries.{name}.builder_s"] = b.seconds
                m[f"queries.{name}.exec_s"] = x.seconds
                phases = df._jdf.queryExecution().tracker().phases()
                totals["plan_s"] += sum(phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning") if phases.contains(p)) / 1000
                totals["builder_s"] += b.seconds
                totals["exec_s"] += x.seconds
                totals["builder_jobs"] += b.jobs
                totals["exec_jobs"] += x.jobs
                totals["shuffle_bytes"] += b.shuffle_bytes + x.shuffle_bytes
                totals["spill_bytes"] += b.spill_bytes + x.spill_bytes
            m["trace.pass_s"] = time.perf_counter() - start
            # Alive now: left by this pass and earlier ones, until the JVM's
            # garbage collector frees them.
            m["queries.persistent_rdds"] = jsc.getPersistentRDDs().size()
            m.update({f"queries.{k}": v for k, v in totals.items()})

        loop.run(traced)
        return m
