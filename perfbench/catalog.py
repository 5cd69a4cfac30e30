"""The ``catalog`` workload: the training-data query catalog on seeded tables.

A pass runs the near-duplicate family of the query catalog: q26
(Jaccard verify over LSH candidate pairs), q30 (duplicate clusters) and
q41 (embedding clusters), after ``spark.catalog.clearCache()`` so that
no pass reads a result cached by an earlier one.  The memo-cached
queries (q21/q22/q49/q52/q54/q58) are left out for the same reason; the
other queries are left out to fit the run budget.

Set-up is one untimed warm pass on the same tables: it starts the
Python workers and compiles the plans, and its CPU time is the run's
``setup_s``.  Each query's action is ``collect()``: the results are
small.  After the timed loop, the rows of the warm pass and of the
first timed pass are compared with the query's DuckDB ``oracle_sql()``
result the way ``tests/test_queries.py`` compares them (row count,
column names, order-insensitive value hash).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

import inputs
from layers import CATALOG_QUERIES as QUERIES
from tracing import Recorder, Tracer, log, median, tree_cpu_s

SIZES = dict(n_docs=600, n_vecs=240)  # 12 % of sf0.1's 5 000 and 2 000


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    """Order-insensitive hash of rows, columns taken in name order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when both sides agree, else what differs."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"{len(spark_rows)} rows vs {len(duck_rows)}"
    if value_hash(spark_rows, spark_cols) != value_hash(duck_rows, duck_cols):
        return "value hash differs"
    return None


def oracle_rows(data_dir: str) -> dict[str, tuple[list, list]]:
    """Each query's DuckDB oracle result as (column names, rows)."""
    import duckdb

    from deltoid_spark.queries import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        for t in inputs.CATALOG_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name in QUERIES:
            dtab = con.execute(oracles[name]).arrow()
            out[name] = (
                [c.lower() for c in dtab.column_names],
                [tuple(row[c] for c in dtab.column_names) for row in dtab.to_pylist()],
            )
        return out
    finally:
        con.close()


@dataclass
class Tables:
    data_dir: str
    expected: Future  # query -> DuckDB oracle (column names, rows)


def prepare(seed: int, work: str) -> Tables:
    """Write the seeded tables and start computing the oracles on a
    thread, so that DuckDB runs while the Spark session starts."""
    root = os.path.join(work, "catalog")
    if os.path.exists(root):
        shutil.rmtree(root)
    data_dir = inputs.write_catalog(inputs.catalog_tables(seed, **SIZES), root)
    pool = ThreadPoolExecutor(max_workers=1)
    expected = pool.submit(oracle_rows, data_dir)
    pool.shutdown(wait=False)
    return Tables(data_dir, expected)


def run(spark, work: str, tables: Tables, seconds: float, tracer: Tracer) -> dict:
    from deltoid_spark.queries import queries

    data_dir = tables.data_dir
    qs = queries()
    t0 = time.perf_counter()
    expected = tables.expected.result()  # before any measured CPU
    log(f"waited {time.perf_counter() - t0:.1f}s for the oracles")

    def run_query(name):
        sdf = qs[name](spark, data_dir)
        return [c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()]

    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    with tracer.span("setup.warm_pass"):
        warm = {name: run_query(name) for name in QUERIES}
    setup_cpu = tree_cpu_s(os.getpid()) - c0
    setup_wall = time.perf_counter() - t0
    log(f"warm pass {setup_wall:.1f}s")
    rec = Recorder(tracer)
    pass_walls = []
    results: dict[str, tuple[list, list]] = {}
    t_start = time.perf_counter()
    while True:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        for name in QUERIES:
            results.setdefault(name, rec.op(name, lambda name=name: run_query(name)))
        pass_walls.append(time.perf_counter() - t0)
        log(f"pass {pass_walls[-1]:.1f}s")
        if time.perf_counter() - t_start + median(pass_walls) > seconds:
            break
    loop_wall = time.perf_counter() - t_start
    failures = []
    for label, got in (("warm pass", warm), ("timed pass", results)):
        for name, (cols, rows) in got.items():
            why = compare(cols, rows, *expected[name])
            if why:
                failures.append(f"{name} ({label}) differs from its oracle: {why}")
    return {
        "setup_cpu": setup_cpu,
        "setup_wall": setup_wall,
        "pass_walls": pass_walls,
        "loop_start": t_start,
        "loop_wall": loop_wall,
        "recorder": rec,
        "failures": failures,
    }


def report(spark, res: dict, tracer: Tracer, trace: bool) -> dict:
    import layers
    import sqlmetrics

    rec: Recorder = res["recorder"]
    s = rec.samples
    t0 = time.perf_counter()
    sql = sqlmetrics.collect(spark, rec.windows, None if trace else ())
    collect_s = time.perf_counter() - t0
    passes = len(res["pass_walls"])
    detail = {
        "ops": rec.attempted,
        "passes": passes,
        "catalog_pass_s": median(res["pass_walls"]),
        "queries_s": {q: median(s[q]) for q in QUERIES},
        "queries_cpu_s": {q: median(rec.cpu[q]) for q in QUERIES},
        "spark_jobs": {q: sql[q]["spark_jobs"] / passes for q in QUERIES},
        "setup_wall_s": res["setup_wall"],
    }
    e2e = {
        "setup_s": (res["setup_cpu"], "s"),
        "pass_cpu_s": (rec.pass_cpu_s(passes), "s"),
    }
    out = layers.empty()
    for q in QUERIES:
        out[f"catalog.{q}_s"][0] = median(s[q])
    for q in ("q30_dup_clusters", "q41_embedding_clusters"):
        out[f"catalog.{q.split('_')[0]}_spark_jobs"][0] = detail["spark_jobs"][q]
    for key in ("spark_jobs", "python_s", "shuffle_write_mb"):
        out[f"catalog.{key}"][0] = sum(sql[q][key] for q in QUERIES) / passes
    out["trace.collect_s"][0] = collect_s
    failures = list(res["failures"])
    if trace:
        spans = [sp for sp in tracer.spans if sp.start >= res["loop_start"] and sp.parent is None]
        cover = sum(sp.end - sp.start for sp in spans) / res["loop_wall"]
        out["trace.job_cover"][0] = cover
        if cover < 0.9:
            failures.append(f"query spans cover {cover:.3f} of the loop wall (< 0.9)")
    detail["ops_failed"] = len(failures)
    return {
        "failures": failures,
        "detail": detail,
        "e2e": e2e,
        "layers": {k: (v, u) for k, (v, u) in out.items()},
        "attempted": rec.attempted,
    }
