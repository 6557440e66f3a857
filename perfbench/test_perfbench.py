"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The smoke tests start Spark (about a minute per run); the rest are fast.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_definitions_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(wl.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == list(wl.END_TO_END)
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == list(wl.PER_LAYER)


def _digest(out_dir: str) -> str:
    h = hashlib.md5()
    for name in gen.TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_tables(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7, 0.001)
    b = gen.write_tables(str(tmp_path / "b"), 7, 0.001)
    c = gen.write_tables(str(tmp_path / "c"), 8, 0.001)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_same_seed_same_live_events():
    for i in (0, 1, 5):
        assert gen.live_file(3, i, 100).equals(gen.live_file(3, i, 100))
    assert not gen.live_file(3, 1, 100).equals(gen.live_file(4, 1, 100))
    ids = [gen.live_file(3, i, 100)["event_id"].to_pylist() for i in range(3)]
    flat = [x for part in ids for x in part]
    assert flat == list(range(len(flat)))  # dense across files


def test_span_self_time_excludes_children():
    tr = Tracer()

    def inner():
        time.sleep(0.05)

    inner_w = tr._span("b", "inner", inner)

    def outer():
        time.sleep(0.02)
        inner_w()

    outer_w = tr._span("a", "outer", outer)
    tr.enabled, tr.op = True, "op1"
    outer_w()
    tr.enabled = False
    outer_w()  # untraced calls record nothing
    table = tr.module_table()
    assert table["a"]["calls"] == table["b"]["calls"] == 1
    assert 0.015 < table["a"]["self_s"] < 0.045
    assert table["b"]["self_s"] >= 0.045
    parent = [s for s in tr.spans if s[1] == "outer"][0]
    child = [s for s in tr.spans if s[1] == "inner"][0]
    assert child[4] == parent[8]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(wl.WORKLOADS))
def test_smoke_every_workload(workload, trace, monkeypatch, capsys):
    """A short run of every workload path on sf0.001 tables prints exactly
    the metric names BENCHMARK.json lists, with every output correct."""
    w = wl.WORKLOADS[workload]
    if w.sf is not None:
        monkeypatch.setitem(wl.WORKLOADS, workload, dataclasses.replace(w, sf=0.001))
    rc = run.main(["--workload", workload, "--seed", "1", "--seconds", "2",
                   "--trace", str(trace)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    listed = BENCH["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


def test_refuses_without_the_program(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", next(iter(wl.WORKLOADS)), "--seed", "1",
                     "--seconds", "1", "--trace", "0"]) != 0
    assert capsys.readouterr().out == ""


def test_generated_tables_pass_the_oracle_on_every_headline_query(tmp_path):
    """The generator keeps every headline query of ``bench.py`` valid: on
    seeded sf0.001 tables each one matches its DuckDB oracle."""
    import bench
    from wingfoil_spark.session import get_spark

    sf_dir = gen.write_tables(str(tmp_path / "t"), 5, 0.001)
    parity = run._oracle_module()
    oracle = run.oracle_frames(parity, sf_dir, bench.HEADLINE)
    spark = get_spark("perfbench-oracle")
    failed = []
    for name in bench.HEADLINE:
        try:
            parity.compare(name, parity.QUERIES[name](spark, sf_dir).toPandas(),
                           oracle[name])
        except AssertionError as e:
            failed.append(str(e)[:200])
    assert not failed, failed
