"""Tests of the benchmark's own machinery (no Spark session needed).

Run with ``python3 -m pytest lakebench/test_lakebench.py -q -p no:cacheprovider``.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lakebench import datagen, emitter  # noqa: E402
from lakebench.tracer import Tracer  # noqa: E402


def _tree(path):
    return sorted(os.listdir(path))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(7, str(a))
    datagen.write_tables(7, str(b))
    files = _tree(a)
    assert files == _tree(b) and len(files) == 8
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert match == files and not mismatch and not errors

    plan_a = datagen.stream_plan(7, 100, 5, 40)
    datagen.write_stream_files(plan_a, str(a / "s"), "f")
    datagen.write_stream_files(datagen.stream_plan(7, 100, 5, 40), str(b / "s"), "f")
    names = _tree(a / "s")
    assert filecmp.cmpfiles(a / "s", b / "s", names, shallow=False)[0] == names

    assert datagen.query_order(7, ["x", "y", "z"], 3) == datagen.query_order(7, ["x", "y", "z"], 3)
    assert datagen.arrival_plan(7) == datagen.arrival_plan(7)


def test_seed_changes_inputs_but_not_their_shape(tmp_path):
    t1, t2 = datagen.make_tables(1), datagen.make_tables(2)
    for name in t1:
        assert t1[name].schema == t2[name].schema
        assert t1[name].num_rows == t2[name].num_rows
    assert not t1["lineitem"].equals(t2["lineitem"])
    assert not t1["events"].equals(t2["events"])
    orders = {tuple(r) for seed in range(8) for r in datagen.query_order(seed, list("abcdef"), 1)}
    assert len(orders) > 1


def test_stream_plan_keeps_the_offered_rate():
    files = datagen.stream_plan(3, 1000, 20, 50)
    ids = [r["event_id"] for f in files for r in f]
    assert sorted(ids) == list(range(1000, 2000))
    sizes = [len(f) for f in files]
    assert sum(sizes) == 1000 and min(sizes) >= 20 and max(sizes) <= 80
    assert all(r["ts"].endswith("Z") for r in files[0])


def test_closed_loop_emitter_publishes_a_group_per_commit(tmp_path):
    """The warm-up publishes a group of files, then waits for its batch to
    be committed before the next group."""
    import threading

    staging, source, commits = (tmp_path / d for d in ("staging", "source", "commits"))
    for d in (staging, source, commits):
        d.mkdir()
    for k in range(6):
        (staging / f"w-{k:05d}.jsonl").write_text("{}\n")
    seen = []

    def stream():  # commits one batch per group, recording what it saw
        for batch in range(3):
            deadline = time.time() + 10
            while len(os.listdir(source)) < 2 * (batch + 1) and time.time() < deadline:
                time.sleep(0.01)
            time.sleep(0.05)
            seen.append(len(os.listdir(source)))
            (commits / str(batch)).write_text("v1\n")

    t = threading.Thread(target=stream)
    t.start()
    emitter.main(str(staging), str(source), time.time(), 0.0,
                 str(tmp_path / "log.json"), str(commits), 2)
    t.join()
    assert seen == [2, 4, 6]
    assert emitter.committed_batches(str(commits)) == 3
    assert len(json.loads((tmp_path / "log.json").read_text())) == 6


def test_events_stay_in_their_window():
    ev = datagen.make_tables(5)["events"]
    ts = ev.column("ts").cast("int64").to_pylist()
    assert all(b > a for a, b in zip(ts, ts[1:]))
    start = datagen._us(datagen.EVENT_START)
    assert start <= ts[0] and ts[-1] < start + datagen.EVENT_DAYS * 86_400_000_000


def test_setup_time_has_the_widest_bound():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_inputs_keep_the_sf01_domains():
    t = datagen.make_tables(4)
    ev = t["events"]
    assert ev.num_rows == datagen.SIZES["events"]
    assert len(set(ev.column("user_id").to_pylist())) == datagen.N_USERS
    days = {v // 86_400_000_000 for v in ev.column("ts").cast("int64").to_pylist()}
    assert len(days) == datagen.EVENT_DAYS
    for name in ("customer", "supplier", "part"):
        assert t[name].num_rows == datagen.SF01_ROWS[name]
    li = t["lineitem"]
    assert li.num_rows == datagen.SF01_ROWS["lineitem"] * datagen.FACT_SHARE
    assert max(li.column("l_orderkey").to_pylist()) < t["orders"].num_rows
    assert max(li.column("l_partkey").to_pylist()) < t["part"].num_rows
    small = datagen.make_tables(4, event_days=2, fact_share=0.01)["events"]
    assert small.num_rows == datagen.SF01_ROWS["events"] // 100
    assert len({v // 86_400_000_000 for v in small.column("ts").cast("int64").to_pylist()}) == 2


def test_self_time_subtracts_children_and_window_excludes_setup():
    tr = Tracer()
    with tr.span("session.get_spark"):
        time.sleep(0.01)
    tr.start_window()
    with tr.operation("workload.q"):
        with tr.span("plans.build"):
            time.sleep(0.02)
            with tr.span("sources.load_table"):
                time.sleep(0.02)
    spans = tr.window()
    assert [s["name"] for s in spans] == ["sources.load_table", "plans.build", "workload.q"]
    assert len({s["op"] for s in spans}) == 1
    own = tr.self_time_by_layer()
    assert "session" not in own
    assert 0.015 < own["plans"] < 0.035 and 0.015 < own["sources"] < 0.035
    assert own["workload"] < 0.01


def test_wrap_is_undone_by_restore():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer()
    original = mod.f
    tr.wrap(mod, "f", "sources.f")
    assert mod.f(1) == 2 and tr.durations("sources.f")
    tr.restore()
    assert mod.f is original


def test_dashboard_mix_refuses_rows_that_write_scratch():
    from lakebench import workloads

    workloads.check_side_effect_free(workloads.DASHBOARD_QUERIES)
    for name in ("partition_pruned_scan", "medallion_incremental_parity",
                 "streaming_dedup_ingest_gate"):
        with pytest.raises(ValueError):
            workloads.check_side_effect_free([name])
