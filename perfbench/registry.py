"""The registry workloads: fixed lists of registry queries over seeded
tables, each run as a fresh plan (query function call, ``collect``,
``cache.release_cached``) and checked against its DuckDB oracle.

``registry_floor`` holds cheap queries from every family, where each
query's few Spark jobs cost more in planning and scheduling than in
compute; ``registry_heavy`` holds multi-job queries whose executor work
and shuffles dominate.  A query execution that raises counts as a
failed operation; one whose rows differ from its oracle's makes the run
incorrect.
"""

from __future__ import annotations

import time

# name lists are part of the benchmark's definition: a change to one is a
# change of workload
FLOOR = [
    # tpch
    "q1_pricing_summary", "q3_shipping_priority",
    # migration domain
    "a1_size_rollup", "j1_identity_lookup_fallback", "x1_next_fit_units",
    # text and dedup
    "text_token_stats", "dedup_exact",
    # windows and sessions
    "w1_tumbling_window_counts", "sess2_funnel_counts",
    # versioned-table reads (their fixtures build during set-up)
    "scale_rename_drop_read", "scale_type_widened_read",
]
FLOOR_SF = 0.01

HEAVY = [
    "text_fingerprint", "dedup_contamination_multibench",
    "basket_brand_pairs_lift", "sim_hard_negatives", "rfm_segment_grid",
]
HEAVY_SF = 0.1

WORKLOADS = {"registry_floor": (FLOOR, FLOOR_SF),
             "registry_heavy": (HEAVY, HEAVY_SF)}


class Registry:
    def __init__(self, spark, tables_dir: str, names: list[str], tracer):
        from databox_adls_loader_spark.cache import release_cached
        from databox_adls_loader_spark.plans.queries import all_queries
        from tools.check_correctness import value_hash

        self.spark = spark
        self.dir = tables_dir
        self.names = names
        self.tracer = tracer
        self.release = release_cached
        self.value_hash = value_hash
        qs = all_queries()
        self.fns = {n: qs[n] for n in names}
        self.results: dict[str, list] = {n: [] for n in names}
        self.n_ops = len(names)
        self.errors: list[str] = []     # executions that raised
        self.problems: list[str] = []   # outputs that failed a check

    def run_query(self, name: str, tag: str) -> float | None:
        """One fresh-plan execution; returns its seconds, None if it
        raised.  The collected rows are kept for the oracle check."""
        tr = self.tracer
        try:
            with tr.group(f"{name}#{tag}:build"), \
                    tr.span("plans.build", query=name):
                t0 = time.perf_counter()
                df = self.fns[name](self.spark, self.dir)
            with tr.group(f"{name}#{tag}:exec"), \
                    tr.span("exec.collect", query=name):
                rows = df.collect()
                t1 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - counted as failed
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        finally:
            with tr.group(f"{name}#{tag}:release"), \
                    tr.span("cache.release", query=name):
                self.release(self.spark)
        cols = df.columns
        self.results[name].append(
            (cols, df.dtypes, len(rows), self.value_hash(rows, cols)))
        return t1 - t0

    def run_pass(self, tag: str) -> tuple[dict[str, float], int]:
        times, failed = {}, 0
        for name in self.names:
            t = self.run_query(name, tag)
            if t is None:
                failed += 1
            else:
                times[name] = t
        return times, failed

    def check(self) -> None:
        """Compare every kept execution's rows with the query's DuckDB
        oracle over the same tables: row count, column names, type
        classes and the order-insensitive value hash."""
        import duckdb

        from databox_adls_loader_spark.plans.queries import all_oracles
        from databox_adls_loader_spark.session import ALL_TABLES
        from tools.check_correctness import type_mismatches, value_hash

        oracles = all_oracles()
        con = duckdb.connect()
        for t in ALL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.dir}/{t}.parquet'")
        for name in self.names:
            sql = oracles.get(name)
            if sql is None:
                self.problems.append(f"{name}: no oracle")
                continue
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            desc = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()]
            want = value_hash(duck_rows, cols)
            for spark_cols, dtypes, n_rows, got in self.results[name]:
                probs = type_mismatches(dtypes, desc)
                if n_rows != len(duck_rows):
                    probs.append(f"rowcount {n_rows} vs {len(duck_rows)}")
                if sorted(spark_cols) != sorted(cols):
                    probs.append(f"columns {spark_cols} vs {cols}")
                if not probs and got != want:
                    probs.append("value hash differs")
                if probs:
                    self.problems.append(f"{name}: " + "; ".join(probs)[:300])
                    break
