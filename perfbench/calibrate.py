"""Compare generated registry tables with a reference set.

    python3 perfbench/calibrate.py profile --reference DIR [--sf 0.01] [--seed 1]
    python3 perfbench/calibrate.py queries --reference DIR [--sf 0.01] [--seed 1]
                                           [--passes 3]

Both generate the benchmark's tables (``tables.py``) for ``--seed`` and
``--sf`` under ``.perfbench/calibrate/`` and compare them with the parquet
tables in ``--reference`` at the same scale factor.

``profile`` measures both sets with DuckDB, statistic by statistic: row
counts and column types; quantiles of every numeric and timestamp column;
the value shares of every column with at most 100 distinct values; and the shapes the
queries depend on (lines per order, events per user, the document
vocabulary, lengths and planted duplicates, the embeddings' cluster
structure).  Each line prints the reference value, the generated one and
whether they agree within the statistic's tolerance.

``queries`` runs the ``registry_floor`` list over both sets in one Spark
session with the benchmark's settings (``run.py``), alternating passes, and prints each query's Spark jobs (query
function call plus ``collect``) and its median time, then checks every
execution against the DuckDB oracle as the benchmark does.

Neither is part of a benchmark run; they show that the generated tables
stand for the reference ones.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUANTILES = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
# a column with at most this many distinct values is compared by shares
LOW_CARD = 100
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _generate(sf: float, seed: int) -> str:
    sys.path.insert(0, ROOT)
    from perfbench import tables

    out = os.path.join(ROOT, ".perfbench", "calibrate", f"sf{sf}-seed{seed}")
    tables.generate(out, sf, seed)
    return out


# -- profile ------------------------------------------------------------
def _shape_stats(con, d: str) -> dict[str, float]:
    """Query-relevant shapes that per-column statistics do not show."""
    import numpy as np
    import pyarrow.parquet as pq

    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    out: dict[str, float] = {}
    m, s = one(f"""SELECT avg(n), stddev(n) FROM (SELECT count(*) n
                  FROM '{d}/lineitem.parquet' GROUP BY l_orderkey)""")
    out["lineitem.lines_per_order.mean"], out["lineitem.lines_per_order.std"] = m, s
    out["lineitem.orderkeys_in_orders"] = one(
        f"""SELECT avg((l_orderkey IN (SELECT o_orderkey
            FROM '{d}/orders.parquet'))::INT) FROM '{d}/lineitem.parquet'""")[0]
    m, s = one(f"""SELECT avg(n), stddev(n) FROM (SELECT count(*) n
                  FROM '{d}/orders.parquet' GROUP BY o_custkey)""")
    out["orders.per_customer.mean"], out["orders.per_customer.std"] = m, s
    n, m, s = one(f"""SELECT count(*), avg(n), stddev(n) FROM (SELECT count(*) n
                     FROM '{d}/events.parquet' GROUP BY user_id)""")
    out["events.users"], out["events.per_user.mean"] = n, m
    out["events.per_user.std"] = s
    out["events.ts_ascending_by_id"] = one(
        f"""SELECT bool_and(ts >= p)::INT FROM (SELECT ts, lag(ts, 1, ts)
            OVER (ORDER BY event_id) p FROM '{d}/events.parquet')""")[0]
    out["events.props_distinct"] = one(
        f"SELECT count(DISTINCT props) FROM '{d}/events.parquet'")[0]
    words = f"""(SELECT doc_id, unnest(string_split(text, ' ')) w
                 FROM '{d}/documents.parquet')"""
    out["documents.vocabulary"] = one(f"SELECT count(DISTINCT w) FROM {words}")[0]
    m, s = one(f"""SELECT avg(n), stddev(n) FROM (SELECT count(*) n
                  FROM {words} GROUP BY doc_id)""")
    out["documents.words.mean"], out["documents.words.std"] = m, s
    out["documents.word_share.max"] = one(
        f"""SELECT max(c) / sum(c) FROM (SELECT count(*) c FROM {words}
            WHERE w <> 'dup' GROUP BY w)""")[0]
    out["documents.planted_dup_share"] = one(
        f"SELECT avg((text LIKE '% dup')::INT) FROM '{d}/documents.parquet'")[0]
    out["documents.exact_dup_share"] = one(
        f"""SELECT 1 - count(DISTINCT text) / count(*)
            FROM '{d}/documents.parquet'""")[0]
    out["documents.per_source.min"], out["documents.per_source.max"] = one(
        f"""SELECT min(c), max(c) FROM (SELECT count(*) c
            FROM '{d}/documents.parquet' GROUP BY source)""")
    out["documents.n_chars_is_length"] = one(
        f"""SELECT bool_and(n_chars = length(text))::INT
            FROM '{d}/documents.parquet'""")[0]

    t = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    x = np.asarray(t["embedding"], dtype=np.float64)
    y = np.asarray(t["label"])
    out["embeddings.dim"] = x.shape[1]
    out["embeddings.norm.max_error"] = float(
        np.abs(np.linalg.norm(x, axis=1) - 1).max())
    sim = x @ x.T
    iu = np.triu_indices(len(x), 1)
    same = (y[:, None] == y[None, :])[iu]
    pairs = sim[iu]
    out["embeddings.pair_cos.std"] = float(pairs.std())
    out["embeddings.same_minus_other_label_cos"] = float(
        pairs[same].mean() - pairs[~same].mean())
    np.fill_diagonal(sim, -2.0)
    out["embeddings.nn_cos.mean"] = float(sim.max(axis=1).mean())
    out["embeddings.nn_same_label"] = float((y[sim.argmax(axis=1)] == y).mean())
    return out


# statistic -> (tolerance, "abs" or "rel"); unlisted shapes must be equal
SHAPE_TOL = {
    "lineitem.lines_per_order.mean": (0.03, "rel"),
    "lineitem.lines_per_order.std": (0.05, "rel"),
    "orders.per_customer.mean": (0.03, "rel"),
    "orders.per_customer.std": (0.08, "rel"),
    "events.per_user.mean": (0.03, "rel"),
    "events.per_user.std": (0.15, "rel"),
    "documents.words.mean": (0.08, "rel"),
    "documents.words.std": (0.1, "rel"),
    "documents.word_share.max": (0.01, "abs"),
    "documents.planted_dup_share": (0.002, "abs"),
    "documents.exact_dup_share": (0.01, "abs"),
    "embeddings.norm.max_error": (1e-5, "abs"),
    "embeddings.pair_cos.std": (0.05, "rel"),
    "embeddings.same_minus_other_label_cos": (0.005, "abs"),
    "embeddings.nn_cos.mean": (0.05, "rel"),
    "embeddings.nn_same_label": (0.05, "abs"),
}


def _column_lines(con, ref: str, gen: str, table: str):
    """(statistic, reference, generated, ok) for one table's columns."""
    def desc(d):
        return [(r[0], r[1]) for r in con.execute(
            f"DESCRIBE SELECT * FROM '{d}/{table}.parquet'").fetchall()]

    def count(d):
        return con.execute(f"SELECT count(*) FROM '{d}/{table}.parquet'").fetchone()[0]

    cols_r, cols_g = desc(ref), desc(gen)
    yield f"{table}.rows", count(ref), count(gen), count(ref) == count(gen)
    yield f"{table}.columns", cols_r, cols_g, cols_r == cols_g
    for col, typ in cols_r:
        if (col, typ) not in cols_g:
            continue
        src = lambda d: f"'{d}/{table}.parquet'"  # noqa: E731
        if typ.endswith("[]"):
            continue            # the embedding vectors: see _shape_stats
        if typ.startswith("TIMESTAMP"):
            expr = f"epoch_us({col})::DOUBLE"
        elif typ in ("VARCHAR",):
            expr = None
        else:
            expr = f"{col}::DOUBLE"
        n_distinct = lambda d: con.execute(  # noqa: E731
            f"SELECT count(DISTINCT {col}) FROM {src(d)}").fetchone()[0]
        dr, dg = n_distinct(ref), n_distinct(gen)
        if dr <= LOW_CARD:
            shares = {}
            for side, d in ((0, ref), (1, gen)):
                for v, c in con.execute(
                        f"""SELECT {col}::VARCHAR, count(*) / sum(count(*)) OVER ()
                            FROM {src(d)} GROUP BY 1""").fetchall():
                    shares.setdefault(v, [0.0, 0.0])[side] = c
            tv = sum(abs(a - b) for a, b in shares.values()) / 2
            # with fewer than ~20 rows a value, some values go undrawn
            n = count(ref)
            yield f"{table}.{col}.distinct", dr, dg, dr == dg or n < 20 * dr
            # a uniform draw of n rows over k values differs from another
            # by about sqrt(k/n) in total variation
            tol = max(0.02, 1.5 * (dr / n) ** 0.5)
            yield f"{table}.{col}.share_tv", 0.0, round(tv, 4), tv <= tol
            continue
        if expr is None:
            lo = lambda d: con.execute(  # noqa: E731
                f"SELECT avg(length({col})) FROM {src(d)}").fetchone()[0]
            lr, lg = lo(ref), lo(gen)
            yield f"{table}.{col}.avg_length", round(lr, 3), round(lg, 3), \
                abs(lr - lg) <= 0.05 * lr
            yield f"{table}.{col}.distinct_share", dr / count(ref), \
                dg / count(gen), abs(dr / count(ref) - dg / count(gen)) <= 0.02
            continue
        qs = ", ".join(f"quantile_cont({expr}, {q})" for q in QUANTILES)
        stat = lambda d: con.execute(  # noqa: E731
            f"SELECT {qs} FROM {src(d)}").fetchone()
        sr, sg = stat(ref), stat(gen)
        span = (sr[-1] - sr[0]) or 1.0
        # two samples' quantiles differ by up to ~0.7/sqrt(n) of the
        # spread (one standard deviation); allow about four
        tol = max(0.03, 3.0 / count(ref) ** 0.5)
        names = [f"q{int(q * 100):02d}" for q in QUANTILES]
        for name, a, b in zip(names, sr, sg):
            yield f"{table}.{col}.{name}", a, b, abs(a - b) <= tol * span


def profile(ref: str, gen: str) -> int:
    import duckdb

    con = duckdb.connect()
    lines = []
    for t in TABLES:
        lines += list(_column_lines(con, ref, gen, t))
    sr, sg = _shape_stats(con, ref), _shape_stats(con, gen)
    for k, a in sr.items():
        b = sg[k]
        tol, kind = SHAPE_TOL.get(k, (0.0, "abs"))
        lim = tol * abs(a) if kind == "rel" else tol
        lines.append((k, a, b, abs(a - b) <= lim))
    fmt = lambda v: f"{v:.6g}" if isinstance(v, float) else str(v)  # noqa: E731
    for k, a, b, ok in lines:
        print(f"{'ok ' if ok else 'OFF'} {k:48s} {fmt(a):>14s} {fmt(b):>14s}")
    off = sum(not ok for *_, ok in lines)
    print(f"{len(lines)} statistics, {off} outside tolerance")
    return 0


# -- queries ------------------------------------------------------------
def queries(ref: str, gen: str, passes: int) -> int:
    import shutil

    sys.path.insert(0, ROOT)
    from perfbench import run

    # the benchmark's own Spark settings and scratch locations
    work = os.path.join(ROOT, ".perfbench", "calibrate", "work")
    shutil.rmtree(work, ignore_errors=True)
    run._environment(work, run.CPUS["registry_floor"])
    from databox_adls_loader_spark.session import get_spark

    from perfbench.registry import FLOOR, Registry
    from perfbench.trace import Tracer

    spark = get_spark("perfbench-calibrate")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark)
        sides = {"reference": Registry(spark, ref, FLOOR, tracer),
                 "generated": Registry(spark, gen, FLOOR, tracer)}
        times = {s: {q: [] for q in FLOOR} for s in sides}
        jobs: dict[str, dict[str, int]] = {s: {} for s in sides}
        for i in range(passes + 1):          # pass 0 warms both sides
            for side, reg in sides.items():
                n0 = len(tracer.spans)
                t, _ = reg.run_pass(f"{side}{i}")
                if i == 0:
                    continue
                for q, v in t.items():
                    times[side][q].append(v)
                if i == 1:
                    for s in tracer.spans[n0:]:
                        if s["name"] in ("plans.build", "exec.collect"):
                            jobs[side][s["query"]] = \
                                jobs[side].get(s["query"], 0) + len(s["job_ids"])
        for reg in sides.values():
            reg.check()
    finally:
        run._stop(spark)
    print(f"{'query':32s} {'jobs ref':>8s} {'jobs gen':>8s} "
          f"{'s ref':>7s} {'s gen':>7s}")
    for q in FLOOR:
        med = {s: statistics.median(times[s][q]) if times[s][q] else float("nan")
               for s in sides}
        print(f"{q:32s} {jobs['reference'].get(q, -1):8d} "
              f"{jobs['generated'].get(q, -1):8d} "
              f"{med['reference']:7.3f} {med['generated']:7.3f}")
    for s in sides:
        tot = sum(statistics.median(v) for v in times[s].values() if v)
        print(f"{s}: pass {tot:.3f} s, {sum(jobs[s].values())} jobs, "
              f"errors {sides[s].errors}, oracle problems {sides[s].problems}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["profile", "queries"])
    ap.add_argument("--reference", required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args(argv)
    gen = _generate(args.sf, args.seed)
    if args.what == "profile":
        return profile(args.reference, gen)
    return queries(args.reference, gen, args.passes)


if __name__ == "__main__":
    sys.exit(main())
