"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run each workload end to end at a small size (12 s of
load), with and without tracing, about a minute per run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from analytic import QUERIES, compare_with_oracle, oracle_connection  # noqa: E402
from datagen import (  # noqa: E402
    analytic_tables, keep_last, pipeline_stream, write_analytic,
)
from pipeline import check_pipeline  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# per-layer metrics each workload must measure (nonzero); the rest of
# the per-layer list belongs to the other workload's layers
BOTH = ("session.", "spark.jobs", "spark.tasks")
OWN_LAYERS = {
    "pipeline-steady": BOTH + ("fakebroker.", "producer.", "consumer.",
                               "delta.", "poller.", "outbox.", "engine.",
                               "loadgen.", "consume_batch_s", "table_query"),
    "analytic-sf0.1": BOTH + ("queries.", "query.", "query_"),
}


# long enough for two pipeline cycles (the trigger fires every 11 s), so
# that every pipeline layer, the table's version too, has moved
SMOKE_SECONDS = 12


def _run(workload: str, trace: int, seed: int = 7) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(SMOKE_SECONDS),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric_with_its_unit(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
        elif m["name"].startswith(OWN_LAYERS[workload]):
            assert got["value"] > 0, m["name"]


def test_corrupted_delivery_counts_as_failure():
    records = pipeline_stream(3, 300, 40, 0.1)
    model = keep_last(records)
    table = [(k, *v) for k, v in model.items()]
    # deliver every record's value (a tombstone as None), in order
    sink = [(r.key, r.payload) for r in records]
    checks, problems = check_pipeline(records, table, sink)
    assert checks > 0 and problems == []

    i = next(i for i, (_, p) in enumerate(sink) if p is not None)
    key, (seq, v, text) = sink[i]
    bad = sink[:i] + [(key, (seq, v + 1, text))] + sink[i + 1:]
    _, problems = check_pipeline(records, table, bad)
    assert problems, "a value that was never produced must fail"

    _, problems = check_pipeline(records, table[1:], sink)
    assert problems, "a key missing from the table must fail"


def test_corrupted_query_row_counts_as_failure(tmp_path):
    from deimos_spark.queries import all_queries

    write_analytic(5, 0.001, str(tmp_path))
    con = oracle_connection(str(tmp_path))
    spec = all_queries()["b11_agg_hash"]
    cur = con.execute(spec.oracle)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    assert compare_with_oracle(con, spec, cols, rows) is None
    row = list(rows[0])
    j = next(j for j, x in enumerate(row) if isinstance(x, (int, float)))
    row[j] += 1
    assert compare_with_oracle(con, spec, cols, [tuple(row), *rows[1:]])
    con.close()


def test_seeds_change_inputs():
    assert pipeline_stream(1, 200, 50, 0.1) == pipeline_stream(1, 200, 50, 0.1)
    assert pipeline_stream(1, 200, 50, 0.1) != pipeline_stream(2, 200, 50, 0.1)
    a, b = analytic_tables(1, 0.001), analytic_tables(2, 0.001)
    assert a["lineitem"].equals(analytic_tables(1, 0.001)["lineitem"])
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])


def test_queries_are_headline_queries():
    from bench import HEADLINE

    assert set(QUERIES) <= set(HEADLINE)


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory with only BENCHMARK.json and the benchmark it must
    fail without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out",
                                                  "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
