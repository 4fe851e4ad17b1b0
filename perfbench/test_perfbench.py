"""Checks of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pandas as pd
from pyspark.sql import types as T

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
from workloads import (  # noqa: E402
    CORPUS_ENTRIES, EXPORT_ENTRIES, LOOKUP_FRESH, LOOKUP_REPEATS, REPORT_SINKS, SINKS, WORKLOADS,
    generate,
)


def test_same_seed_same_requests():
    for w in WORKLOADS:
        assert generate(w, 7, 4) == generate(w, 7, 4)
        assert generate(w, 7, 4) != generate(w, 8, 4)


def test_longer_stream_starts_with_shorter():
    for w in WORKLOADS:
        assert generate(w, 3, 5)[: len(generate(w, 3, 2))] == generate(w, 3, 2)


def test_warmup_stream_is_independent():
    for w in ("gaql_lookup", "report_export"):
        timed = {r.text for r in generate(w, 3, 4)}
        warm = {r.text for r in generate(w, 3, 1, stream="warmup")}
        assert warm != timed


def test_lookup_blocks_hit_the_cache_exactly_three_times_in_ten():
    reqs = generate("gaql_lookup", 5, 6)
    seen: set[str] = set()
    for b in range(6):
        block = [r for r in reqs if r.block == b]
        fresh = []
        for r in block:
            if r.text not in seen:
                fresh.append(r.shape)
            seen.add(r.text)
        assert len(block) == len(LOOKUP_FRESH) + LOOKUP_REPEATS
        assert Counter(fresh) == Counter(LOOKUP_FRESH)


def test_report_blocks_cover_every_shape_and_sink_with_unique_texts():
    reqs = generate("report_export", 9, 5)
    reports = [r for r in reqs if not r.entry]
    assert len({r.text for r in reports}) == len(reports)
    for b in range(5):
        shapes = sorted(r.shape for r in reqs if r.block == b)
        assert shapes == sorted(
            [f"{k}/{s}" for k, sinks in REPORT_SINKS.items() for s in sinks]
            + [f"export/{e}/{s}" for e, s in EXPORT_ENTRIES.items()])
        assert {r.text for r in reqs if r.block == b and r.entry} == set(EXPORT_ENTRIES)
    assert set(EXPORT_ENTRIES) <= set(CORPUS_ENTRIES)
    assert {s for sinks in REPORT_SINKS.values() for s in sinks} == set(SINKS)


def test_corpus_blocks_run_every_entry_once():
    reqs = generate("corpus_udf", 2, 3)
    for b in range(3):
        assert sorted(r.text for r in reqs if r.block == b) == sorted(CORPUS_ENTRIES)


def test_tables_are_deterministic():
    a, b = datagen.build_tables(), datagen.build_tables()
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert {k: t.num_rows for k, t in a.items()} == datagen.ROWS


def test_tail_has_ten_samples_beyond():
    value, pct, beyond = run.tail([float(i) for i in range(1, 101)])
    assert (value, beyond) == (90.0, 10) and pct == 90.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_canary_perturbation_is_caught():
    want = pd.DataFrame({"id": [1, 2, 3], "name": ["a", "b", "c"]})
    assert verify.problems(want.copy(), want) == []
    assert verify.problems(verify.perturbed(want), want)
    assert verify.problems(verify.perturbed(want[["name"]]), want[["name"]])


def test_flatten_expands_structs_and_keeps_flat_dtypes():
    schema = T.StructType([
        T.StructField("customer", T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("meta", T.StructType([T.StructField("day", T.StringType())])),
        ])),
        T.StructField("n", T.IntegerType()),
    ])
    pdf = pd.DataFrame({"customer": [{"id": 1, "meta": {"day": "x"}}],
                        "n": pd.Series([5], dtype="int32")})
    flat = verify.flatten(pdf, schema)
    assert list(flat.columns) == ["customer_id", "customer_meta_day", "n"]
    assert [str(flat[c].dtype) for c in flat.columns] == ["int64", "object", "int32"]
    empty = verify.flatten(pdf.iloc[:0], schema)
    assert list(empty.columns) == list(flat.columns) and len(empty) == 0
    assert str(empty["customer_id"].dtype) == "int64"


def test_planning_phases_become_child_spans_outside_construction():
    import tracing

    class Listener:
        def drain(self):
            return [("analysis", 1.1, 1.2),      # while the plan was built: construction
                    ("optimization", 2.1, 2.3),  # inside the action
                    ("planning", 9.0, 9.5)]      # another request's execution

    t = tracing.Tracer(False)
    t.enabled, t.planning, t.request = True, Listener(), "r"
    t.spans = [
        {"name": "request", "start": 1.0, "end": 3.0, "parent": None, "request": "r"},
        {"name": "plans.build", "start": 1.0, "end": 1.5, "parent": 0, "request": "r"},
        {"name": "exec.action", "start": 2.0, "end": 3.0, "parent": 0, "request": "r"},
    ]
    t.add_planning("r")
    plan = [s for s in t.spans if s["name"] == "catalyst.plan"]
    assert [(s["phase"], s["parent"]) for s in plan] == [("optimization", 2)]
    assert abs(t.self_total("exec.action") - 0.8) < 1e-9
    assert abs(t.self_times()["catalyst"] - 0.2) < 1e-9


def test_parity_flags_an_action_that_drops_operators():
    result = verify.operator_classes(["Project", "ArrowEvalPython", "Aggregate", "Window"])
    full = verify.operator_classes(
        ["Project", "ArrowEvalPython", "HashAggregate", "Exchange", "HashAggregate", "Window"])
    counted = verify.operator_classes(["HashAggregate", "Exchange", "HashAggregate"])
    assert verify.parity_gaps(result, full) == []
    gaps = verify.parity_gaps(result, counted)
    assert any(g.startswith("python") for g in gaps)
    assert any(g.startswith("window") for g in gaps)
    assert full["exchange"] == 1 and not any(g.startswith("exchange") for g in gaps)


def test_benchmark_json_matches_the_metrics_a_run_computes():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert run.METRIC_UNITS[m["name"]] == m["unit"], m
