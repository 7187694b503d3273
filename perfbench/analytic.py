"""The `analytic-sf0.1` workload: headline queries over generated tables.

The tables are generated from the seed at scale 0.1 (datagen.py). The
timed run is one cold pass (first build + collect of each query in this
process) and then warm passes until the run's seconds are used, each
query freshly built after `clear_plan_cache()`, the fresh-lineage
re-submission `bench.py` uses. Warm figures leave out the first
WARMUP_PASSES warm passes. It never touches the pipeline modules.
Outside the timed region every result, of the cold pass and of each warm
pass, is compared with DuckDB's result for the query's oracle SQL.
"""

from __future__ import annotations

import os
import time
from statistics import median

from common import Tracer, tail
from datagen import write_analytic

SCALE = 0.1
# The first warm passes still get faster with each repetition (the JVM's
# JIT), so they are left out of the warm figures. At least
# MIN_WARM_PASSES more follow, so every run has the samples for the same
# latency-tail percentile (p75 of 9 queries x 5 passes).
WARMUP_PASSES = 2
MIN_WARM_PASSES = 5
# One query per operator family from bench.HEADLINE, all oracle-backed,
# chosen so a cold pass plus the warm passes fit in one run:
# t27_semdedup is the one that runs Python workers, and h03 is the
# TPC-H join-aggregate-top-k shape, which also stands for the multi-way
# join and hash aggregate of b05 and b11. Their count is odd: with n queries,
# p50 and p75 of the warm times then fall inside one query's run of
# samples (at 4.5/9 and 6.75/9), not on the boundary between two
# queries, where a small shift would jump between them.
QUERIES = [
    "b12_distinct_count",
    "b18_window_rank",
    "b20_keep_last_per_key",
    "b28_json_funcs",
    "c04_time_bucket",
    "h03_shipping_priority",
    "t01_token_stats",
    "t27_semdedup",
    "x01_asof_join",
]


def oracle_result(con, spec) -> tuple[list[str], list[tuple]]:
    """DuckDB's columns and rows for the query's oracle SQL."""
    cur = con.execute(spec.oracle)
    return [d[0] for d in cur.description], cur.fetchall()


def compare_with_oracle(con, spec, cols: list[str], rows: list[tuple]):
    """None if the Spark result equals DuckDB's for `spec.oracle`, else a
    description of the difference."""
    return compare_rows(cols, rows, *oracle_result(con, spec))


def compare_rows(cols, rows, ocols, orows):
    """None if two results agree, else a description of the difference.
    Same checks as tools/check_oracle.py: column names, row count, then
    order-insensitive normalised values."""
    from tools.check_oracle import _norm_rows

    if sorted(cols) != sorted(ocols):
        return f"cols spark={sorted(cols)} duck={sorted(ocols)}"
    if len(rows) != len(orows):
        return f"rowcount spark={len(rows)} duck={len(orows)}"
    if _norm_rows(cols, rows) != _norm_rows(ocols, orows):
        return "values differ"
    return None


def oracle_connection(data_dir: str):
    import duckdb

    from deimos_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def run_analytic(spark, root: str, work: str, seed: int, seconds: float,
                 tracer: Tracer) -> dict:
    from bench import HEADLINE
    from deimos_spark.queries import all_queries, clear_plan_cache

    specs = all_queries()
    missing = [q for q in QUERIES
               if q not in HEADLINE or specs[q].oracle is None]
    if missing:
        raise ValueError(f"not oracle-backed headline queries: {missing}")
    data_dir = os.path.join(work, "data")
    write_analytic(seed, SCALE, data_dir)

    def run_query(name: str, tid: str) -> tuple[list[str], list[tuple]]:
        with tracer.span("query", trace_id=tid):
            with tracer.span("queries.build"):
                df = specs[name].builder(spark, data_dir)
            if tracer.enabled:
                with tracer.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("queries.exec_fetch"):
                rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    # ---------------------------------------------------------- timed run
    deadline = time.perf_counter() + seconds
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {q: [] for q in QUERIES}
    # every warm execution time, warm-up passes included
    warm_all: dict[str, list[float]] = {q: [] for q in QUERIES}
    # every result, cold and warm, checked after the timed run
    results: dict[str, list[tuple[str, list[str], list[tuple]]]] = {
        q: [] for q in QUERIES}
    rows_out = 0
    pass_s: list[float] = []
    problems: list[str] = []
    attempted = failed = 0
    for q in QUERIES:
        attempted += 1
        t = time.perf_counter()
        try:
            results[q].append(("cold", *run_query(q, f"cold:{q}")))
        except Exception as e:  # counted; the other queries still run
            failed += 1
            problems.append(f"{q} cold: {type(e).__name__}: {e}")
        cold[q] = time.perf_counter() - t
    passes = 0
    while (passes < WARMUP_PASSES + MIN_WARM_PASSES
           or time.perf_counter() < deadline):
        passes += 1
        pass_start = time.perf_counter()
        for q in QUERIES:
            attempted += 1
            clear_plan_cache()
            t = time.perf_counter()
            try:
                cols, rows = run_query(q, f"warm{passes}:{q}")
            except Exception as e:
                failed += 1
                problems.append(f"{q} warm: {type(e).__name__}: {e}")
                continue
            results[q].append((f"warm{passes}", cols, rows))
            warm_all[q].append(time.perf_counter() - t)
            if passes > WARMUP_PASSES:
                warm[q].append(warm_all[q][-1])
                rows_out += len(rows)
        pass_s.append(time.perf_counter() - pass_start)

    # ---------------------------------------------- correctness, untimed
    # An execution that raised has failed already; each one that returned
    # fails if its result differs from DuckDB's.
    con = oracle_connection(data_dir)
    for q in QUERIES:
        if not results[q]:
            continue
        expected, oracle_error = None, None
        try:
            expected = oracle_result(con, specs[q])
        except Exception as e:  # an oracle error fails every comparison
            oracle_error = f"duckdb error: {type(e).__name__}: {e}"
        for label, cols, rows in results[q]:
            diff = (oracle_error if expected is None
                    else compare_rows(cols, rows, *expected))
            if diff is not None:
                failed += 1
                problems.append(f"{q} {label}: {diff}")
    con.close()

    samples = [x for q in QUERIES for x in warm[q]]
    warm_s = sum(samples)
    lat_p, lat_tail = tail(samples, len(QUERIES) * MIN_WARM_PASSES)
    e2e = {
        "setup_s": 0.0,
        "records_per_s": rows_out / warm_s,
        "delivery_latency_s.p50": median(samples),
        "delivery_latency_s.tail": lat_tail,
    }
    layer = {
        "query_warm_total_s": sum(median(v) for v in warm.values() if v),
        "query_cold_total_s": sum(cold.values()),
        "queries.rows_returned": rows_out / (passes - WARMUP_PASSES),
    }
    layer.update({f"query.{q}_s": median(v) for q, v in warm.items() if v})
    if tracer.enabled:
        timed = lambda name: sum(  # noqa: E731
            s.end - s.start for s in tracer.spans
            if s.name == name and s.trace_id.startswith("warm")
            and int(s.trace_id[4:].split(":")[0]) > WARMUP_PASSES
        ) / (passes - WARMUP_PASSES)
        layer.update({
            "queries.build_s": timed("queries.build"),
            "queries.plan_s": timed("queries.plan"),
            "queries.exec_fetch_s": timed("queries.exec_fetch"),
        })
    info = {
        "scale": SCALE,
        "queries": QUERIES,
        "warm_passes": passes,
        "warm_pass_s": pass_s,
        "warm_s": warm_all,
        "cold_s": cold,
        "delivery_latency_tail_percentile": lat_p,
        "delivery_latency_samples": len(samples),
        "problems": problems[:20],
    }
    return {"e2e": e2e, "layer": layer, "attempted": attempted,
            "failed": failed, "info": info}
