"""Unit tests for the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import loans  # noqa: E402
import steadiness  # noqa: E402
import tables  # noqa: E402

TINY_LOG = os.path.join(HERE, "testdata", "tiny_eventlog.json")


def test_module_of_maps_call_sites_to_modules():
    pkg = "/x/loan_etl_data_pipeline_spark"
    assert eventlog.module_of(f"collect at {pkg}/operators/graph.py:112") == "operators.graph"
    assert eventlog.module_of(f"count at {pkg}/queries.py:9") == "queries"
    assert eventlog.module_of("collect at /x/perfbench/workloads.py:170") == "bench"
    assert eventlog.module_of("parquet at NativeMethodAccessorImpl.java:0") == "other"
    assert eventlog.module_of(None) == "unattributed"


def test_reduce_tiny_event_log():
    red = eventlog.reduce_event_log(TINY_LOG)
    build = red["groups"]["iterative:q_pagerank:build:p0"]
    exec_ = red["groups"]["iterative:q_pagerank:exec:p0"]
    assert set(red["groups"]) == {
        "iterative:q_pagerank:build:p0", "iterative:q_pagerank:exec:p0", "",
        "5f0c-stream-run-id",
    }
    assert (build["jobs"], build["stages"], build["engine.tasks"]) == (1, 1, 1)
    assert build["job_s"] == pytest.approx(0.5)
    assert build["engine.task_busy_s"] == pytest.approx(0.3)
    assert build["engine.task_cpu_s"] == pytest.approx(0.2)
    assert build["engine.gc_s"] == pytest.approx(0.01)
    assert build["engine.shuffle_write_bytes"] == 500
    assert build["engine.input_bytes"] == 2000
    assert (exec_["jobs"], exec_["stages"], exec_["engine.tasks"]) == (1, 1, 2)
    assert exec_["engine.failed_tasks"] == 1
    assert exec_["engine.shuffle_read_bytes"] == 500
    assert exec_["engine.fetch_wait_s"] == pytest.approx(0.005)
    assert exec_["engine.spill_bytes"] == 64
    assert exec_["python.worker_start_s"] == pytest.approx(0.12)
    assert exec_["python.run_s"] == pytest.approx(0.3)
    assert exec_["python.bytes_sent"] == 4096
    for b in [*red["groups"].values(), *red["modules"].values()]:
        assert tuple(b) == eventlog.BUCKET
    mods = {m: b["jobs"] for (g, m), b in red["modules"].items()}
    assert mods == {"operators.graph": 1, "bench": 1, "unattributed": 1}
    assert len(red["intervals"]) == 3


def test_jobs_under_a_foreign_group_count_in_the_open_window():
    windows = [("iterative:q_pagerank:build:p0", 1000, 1600),
               ("iterative:q_pagerank:exec:p0", 2000, 2800)]
    red = eventlog.reduce_event_log(TINY_LOG, windows)
    assert set(red["groups"]) == {w[0] for w in windows} | {""}
    assert red["groups"]["iterative:q_pagerank:build:p0"]["jobs"] == 2


def test_busy_ms_merges_overlaps_and_clips_to_window():
    iv = [(0, 100), (50, 150), (300, 400)]
    assert eventlog.busy_ms(iv, 0, 1000) == 250
    assert eventlog.busy_ms(iv, 100, 350) == 100
    assert eventlog.busy_ms([], 0, 10) == 0


def test_loan_feed_is_byte_identical_for_a_seed(tmp_path):
    a = loans.write_feed(str(tmp_path / "a"), 7, 3, 400)
    b = loans.write_feed(str(tmp_path / "b"), 7, 3, 400)
    c = loans.write_feed(str(tmp_path / "c"), 8, 3, 400)
    for fa, fb in zip(a, b):
        with open(fa["path"], "rb") as x, open(fb["path"], "rb") as y:
            assert x.read() == y.read()
    with open(a[0]["path"], "rb") as x, open(c[0]["path"], "rb") as y:
        assert x.read() != y.read()


def test_loan_feed_follows_the_fixture_spec(tmp_path):
    import pandas as pd

    files = loans.write_feed(str(tmp_path), 3, 2, 2000)
    df = pd.concat([pd.read_csv(f["path"], dtype={"timestamp": str}) for f in files])
    assert list(df.columns) == [
        "loan_id", "timestamp", "loan_amount", "loan_type", "term_months", "credit_score"
    ]
    assert df["loan_id"].is_unique
    ts = df["timestamp"].dropna()
    assert ts.str.match(r"^\d{4}-\d{2}-\d{2} ").any()  # yyyy-MM-dd
    assert ts.str.match(r"^\d{2}/\d{2}/\d{4} ").any()  # MM/dd/yyyy
    assert ts.str.match(r"^\d{2}-\d{2}-\d{4} ").any()  # dd-MM-yyyy
    assert ts.isin(loans.GARBAGE_TS).any()
    dd_mm = ts[ts.str.match(r"^\d{2}-\d{2}-\d{4} ")].str[:2].astype(int)
    assert (dd_mm > 12).any() and (dd_mm <= 12).any()  # day > 12 disambiguates
    for col, rate in (("timestamp", 0.05), ("loan_amount", 0.10), ("loan_type", 0.10),
                      ("term_months", 0.15), ("credit_score", 0.10)):
        assert abs(df[col].isna().mean() - rate) < 0.03, col
    assert df["loan_type"].value_counts().is_unique  # a unique mode
    assert files[0]["by_loan_type"] == {
        (None if pd.isna(k) else k): v
        for k, v in pd.read_csv(files[0]["path"])["loan_type"]
        .value_counts(dropna=False).items()
    }


def test_tables_are_deterministic_and_typed():
    a, b = tables.make_tables(5, 0.001), tables.make_tables(5, 0.001)
    assert set(a) == set(b) and all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"


def test_benchmark_json_matches_the_metrics_the_command_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(run.LAYER_TARGETS)
    assert {w["name"] for w in spec["workloads"]} == set(run.workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: run.unit_of(k) for k in run.LAYER_TARGETS
    }


def test_steadiness_flags_counts_that_vary_within_or_across_runs():
    runs = [
        {"workload": "curation", "counts": {"q:exec.jobs": [36, 37], "q:build.jobs": [1, 1]}},
        {"workload": "curation", "counts": {"q:exec.jobs": [36, 36], "q:build.jobs": [1, 1]}},
        {"workload": "iterative", "counts": {"p:build.jobs": [32, 32]}},
        {"workload": "iterative", "counts": {"p:build.jobs": [32, 31]}},
    ]
    assert steadiness.unsteady(runs) == {
        "curation": {"q:exec.jobs": [[36, 37], [36, 36]]},
        "iterative": {"p:build.jobs": [[32, 32], [32, 31]]},
    }
