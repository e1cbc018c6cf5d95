"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The last test starts a local Spark session (about a minute).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import gen, stats  # noqa: E402
from perfbench.run import END_TO_END, is_traced, per_layer_units  # noqa: E402
from perfbench.workloads import HEADLINE, WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_metric_schema():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == per_layer_units()
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128


def test_per_layer_covers_every_headline_query():
    units = per_layer_units()
    for q in HEADLINE:
        assert {f"query.{q}.build_s", f"query.{q}.exec_s", f"query.{q}.jobs"} <= set(units)
    assert len(HEADLINE) == len(set(HEADLINE)) == 21


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    assert stats.tail(samples) == (90.0, 90.0, 100)
    pct, v, n = stats.tail([float(i) for i in range(1, 22)])
    assert (pct, v, n) == (52.0, 11.0, 21)
    assert sum(1 for x in range(1, 22) if x > v) == 10
    for n in range(20, 80):
        s = [float((i * 7919) % 101) for i in range(n)]
        pct, v, _ = stats.tail(s)
        assert sum(1 for x in s if x > v) >= stats.TAIL_BEYOND
        if pct < 99:  # one percentile higher leaves too few beyond
            nxt = stats.percentile(s, pct + 1)
            assert nxt == v or sum(1 for x in s if x > nxt) < stats.TAIL_BEYOND


def test_tail_with_too_few_samples_is_the_median():
    assert stats.tail([3.0, 1.0, 2.0]) == (50.0, 2.0, 3)
    assert stats.tail([7.0, 5.0]) == (50.0, 6.0, 2)
    assert stats.tail([4.0]) == (50.0, 4.0, 1)
    s = [float(i) for i in range(19)]
    assert stats.tail(s) == (50.0, stats.percentile(s, 50), 19)


def test_trace_rounds_alternate_traced_and_untraced_ops():
    # one-op rounds (key 0) over four rounds: traced, untraced, untraced, traced
    assert [is_traced(0, k) for k in range(4)] == [True, False, False, True]
    # over two rounds every query runs traced once and untraced once,
    # and half of the queries run traced first
    qm = WORKLOADS["query_mix"]()
    assert qm.TRACE_ROUNDS == 2
    firsts = []
    for q in HEADLINE:
        flags = [is_traced(qm.key(q), k) for k in range(qm.TRACE_ROUNDS)]
        assert sorted(flags) == [False, True]
        firsts.append(flags[0])
    assert abs(2 * sum(firsts) - len(HEADLINE)) <= 1


def test_stream_rounds_land_each_batch_once():
    si = WORKLOADS["stream_ingest"]()
    landed = [b for rnd in range(8) for b in si.schedule(0, rnd)]
    assert landed == list(range(9)) and si.setup_item == 0


def test_percentile_nearest_rank():
    s = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert [stats.percentile(s, p) for p in (20, 40, 50, 100)] == [1.0, 2.0, 3.0, 5.0]
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_self_time_subtracts_child_coverage_once():
    # children cover 1..5 (two overlapping) and 8..10 (clipped at the end)
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0
    assert stats.self_time(0.0, 2.0, []) == 2.0
    assert stats.self_time(0.0, 2.0, [(0.0, 2.0)]) == 0.0
    assert stats.self_time(5.0, 6.0, [(0.0, 1.0)]) == 1.0


def _digest(root: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_survey_inputs_are_deterministic(tmp_path):
    a = gen.survey_inputs(str(tmp_path / "a"), 7, 200, 40)
    b = gen.survey_inputs(str(tmp_path / "b"), 7, 200, 40)
    c = gen.survey_inputs(str(tmp_path / "c"), 8, 200, 40)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a["roll_up"] == b["roll_up"] and a["input_bytes"] == b["input_bytes"]
    assert a["bronze"] == a["input_rows"] == 240
    # every demographic's valid counts add up to the valid rows
    for demo in gen.DEMOGRAPHICS:
        assert sum(v for k, v in a["roll_up"].items() if k.startswith(demo + "|")) == a["valid"]


def test_tpch_tables_are_deterministic(tmp_path):
    a = gen.tpch_tables(str(tmp_path / "a"), 3)
    gen.tpch_tables(str(tmp_path / "b"), 3)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert a["rows"]["embeddings"] == 500 and a["rows"]["lineitem"] == 60_000


def test_stream_batches_are_deterministic_and_plant_clean_pairs():
    args = (5, 4, 50, 20, 3, 3)
    a, b = gen.stream_batches(*args), gen.stream_batches(*args)
    assert a == b
    assert gen.stream_batches(6, *args[1:]) != a
    assert len(a["pairs"]) == 4 * 3 + 3 * 3
    sources = [s for s, _ in a["pairs"]]
    dups = {d for _, d in a["pairs"]}
    assert len(sources) == len(set(sources))  # no source has two duplicates
    assert not dups & set(sources)  # duplicates are never sources
    ids = [r["doc_id"] for batch in a["docs"] for r in batch]
    assert len(ids) == len(set(ids)) == 4 * 50


def test_counters_repeat_across_two_traced_runs(tmp_path):
    """After one warm-up draw, jobs, tasks and shuffle bytes of the
    same query on the same data are identical between traced draws."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from ffi_etl_spark.session import get_session
    from perfbench.trace import Tracer
    from perfbench.workloads import QueryMix

    wl = QueryMix()
    wl.prepare(str(tmp_path), 1)
    spark = get_session("perfbench-test")
    try:
        queries = ["tpch_q1", "dedup_minhash_incremental"]
        for q in queries:  # warm-up draw
            assert wl.op(spark, Tracer(spark.sparkContext, False), q)[1]
        draws = []
        for _ in range(2):
            tracer = Tracer(spark.sparkContext, True)
            for i, q in enumerate(queries):
                with tracer.op(i):
                    assert wl.op(spark, tracer, q)[1]
            tracer.collect_counters()
            draws.append({sp["name"]: (sp["jobs"], sp["tasks"], sp["shuffle_bytes"])
                          for sp in tracer.spans})
        assert draws[0] == draws[1]
        assert draws[0]["query.tpch_q1.exec"][0] >= 1
    finally:
        spark.stop()
