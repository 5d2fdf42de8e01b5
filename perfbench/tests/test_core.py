"""Unit tests for the benchmark's pure pieces. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import timedelta

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import pytest  # noqa: E402

from perfbench import core  # noqa: E402


# ---- percentile rule -------------------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert core.tail(list(range(10))) is None
    pct, value, beyond = core.tail(list(range(11)))
    assert (value, beyond) == (0, 10)
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n, want_pct", [(20, 50.0), (40, 75.0),
                                         (100, 90.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_beyond(n, want_pct):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted input
    pct, value, beyond = core.tail(values)
    assert pct == pytest.approx(want_pct)
    assert beyond == 10
    assert sum(v > value for v in values) == 10
    assert value == sorted(values)[round(pct / 100 * n) - 1]


def test_median():
    assert core.median([3, 1, 2]) == 2
    assert core.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        core.median([])


# ---- freshness -------------------------------------------------------------


def test_sweeps_due_releases_sweep_zero_at_t0():
    assert core.sweeps_due(99.9, 100.0, 2.0, 10) == 0
    assert core.sweeps_due(100.0, 100.0, 2.0, 10) == 1
    assert core.sweeps_due(103.9, 100.0, 2.0, 10) == 2
    assert core.sweeps_due(104.0, 100.0, 2.0, 10) == 3
    assert core.sweeps_due(1e9, 100.0, 2.0, 10) == 10


@pytest.mark.parametrize("render", [
    lambda s: {"sweep": s},
    lambda s: json.dumps({"sweep": s}),
    lambda s: str({"sweep": s}),
])
def test_sweep_of_reads_every_offset_rendering(render):
    assert core.sweep_of(render(17)) == 17
    assert core.sweep_of(None) == 0
    with pytest.raises(ValueError):
        core.sweep_of('{"offset": 3}')


def _progress(batch_id, start, end, rows):
    src = {"startOffset": None if start is None else json.dumps(
        {"sweep": start}), "endOffset": json.dumps({"sweep": end})}
    return {"batchId": batch_id, "numInputRows": rows, "sources": [src]}


def test_freshness_from_progress_offsets_and_merge_returns():
    t0, period = 1000.0, 2.0
    progress = [
        _progress(0, None, 1, 300),   # sweep 0, due at t0
        _progress(1, 1, 1, 0),        # no-data batch: skipped
        _progress(2, 1, 3, 600),      # sweeps 1-2: oldest due at t0 + 2
        _progress(3, 3, 4, 300),      # merge return never recorded
    ]
    returns = {0: 1001.5, 1: 1001.9, 2: 1005.25}
    fresh = core.batch_freshness(progress, returns, t0, period)
    assert [f["batch"] for f in fresh] == [0, 2]
    assert [f["first_sweep"] for f in fresh] == [0, 1]
    assert [f["sweeps"] for f in fresh] == [1, 2]
    assert [f["freshness_s"] for f in fresh] == pytest.approx([1.5, 3.25])


# ---- synthetic topology ----------------------------------------------------


def test_synth_conf_round_trips_through_the_parser(tmp_path):
    from opc2mongodb_spark.functions.coercion import family_of
    from opc2mongodb_spark.sources.config import parse_config_file

    path = tmp_path / "bench.conf"
    path.write_text(core.synth_conf(3, 120, seed=7), encoding="utf-8")
    topo = parse_config_file(str(path))
    assert topo.mongo_url.startswith("mongodb://")
    assert [s.name for s in topo.servers] == ["Plant0", "Plant1", "Plant2"]
    assert all(s.is_ua and s.read_period == 1 for s in topo.servers)
    tags = [e.mongo_tag for s in topo.servers for e in s.entries]
    assert len(tags) == len(set(tags)) == 360
    types = {e.opc_type for s in topo.servers for e in s.entries}
    assert types == set(core.TAG_TYPES)
    assert all(family_of(t) is not None for t in types)
    subscribed = sum(e.subscribe for s in topo.servers for e in s.entries)
    assert 0 < subscribed < 360


def test_synth_conf_is_a_function_of_the_seed():
    assert core.synth_conf(2, 50, 1) == core.synth_conf(2, 50, 1)
    assert core.synth_conf(2, 50, 1) != core.synth_conf(2, 50, 2)


# ---- expected final store --------------------------------------------------


def _topo(tmp_path, servers=2, tags=40, seed=3):
    from opc2mongodb_spark.sources.config import parse_config_file

    path = tmp_path / "bench.conf"
    path.write_text(core.synth_conf(servers, tags, seed), encoding="utf-8")
    return parse_config_file(str(path))


def test_expected_final_store_is_the_last_sweep_of_every_tag(tmp_path):
    from opc2mongodb_spark.sources.opc import _EPOCH

    from perfbench.bridge import expected_final_raw

    topo = _topo(tmp_path)
    rows = expected_final_raw(topo, 9)
    assert len(rows) == 2 * 40
    assert len({(r[0], r[1]) for r in rows}) == len(rows)
    last_ts = (_EPOCH + timedelta(seconds=8)).replace(tzinfo=None)
    assert {r[4] for r in rows} == {last_ts}


def test_expected_final_store_matches_what_the_stream_reader_renders(
        tmp_path):
    """The builder must agree with the Arrow batches the streaming reader
    yields for the same sweep range, including poll-only tags, which hold a
    value for four sweeps."""
    from opc2mongodb_spark.sources.opc import _ServerPartition, _sweep_batches

    from perfbench.bridge import expected_final_raw

    topo = _topo(tmp_path)
    n = 11
    want = {(r[0], r[1]): r[3] for r in expected_final_raw(topo, n)}
    got = {}
    for i in range(len(topo.servers)):
        for batch in _sweep_batches(topo, _ServerPartition(i, 0, n)):
            cols = batch.to_pydict()
            for server, tag, raw in zip(cols["server"], cols["tag"],
                                        cols["raw"]):
                got[(server, tag)] = raw  # later sweeps overwrite
    assert got == want


# ---- tracing ---------------------------------------------------------------


def _span(sid, name, parent, start, end):
    return {"id": sid, "name": name, "parent": parent, "run": "r",
            "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "bridge.batch", None, 0.0, 10.0),
        _span(1, "state.upstream", 0, 1.0, 4.0),
        _span(2, "sink.merge", 0, 3.0, 8.0),    # overlaps its sibling
        _span(3, "sink.merge", None, 20.0, 21.0),
    ]
    selfs = core.self_times(spans)
    assert selfs["bridge.batch"] == pytest.approx(10.0 - 7.0)
    assert selfs["state.upstream"] == pytest.approx(3.0)
    assert selfs["sink.merge"] == pytest.approx(5.0 + 1.0)


def test_tracer_records_parents_and_phase():
    tr = core.Tracer(True, "run-1")
    with tr.span("bridge.live", phase=True):
        with tr.span("bridge.check"):
            pass
    names = {s["name"]: s for s in tr.spans}
    assert names["bridge.check"]["parent"] == names["bridge.live"]["id"]
    assert all(s["run"] == "run-1" and s["end"] >= s["start"]
               for s in tr.spans)
    off = core.Tracer(False, "run-2")
    with off.span("x"):
        pass
    assert off.spans == []


def test_span_on_a_callback_thread_takes_the_phase_as_parent():
    """``foreachBatch`` runs on the engine's callback thread, whose span
    stack is empty: its spans hang under the main thread's phase."""
    import threading

    tr = core.Tracer(True, "run-1")

    def batch():
        with tr.span("bridge.batch"):
            pass

    with tr.span("bridge.backfill", phase=True) as phase:
        worker = threading.Thread(target=batch)
        worker.start()
        worker.join(timeout=10)
    assert not worker.is_alive()
    names = {s["name"]: s for s in tr.spans}
    assert names["bridge.batch"]["parent"] == phase["id"]
    assert tr.ambient is None


# ---- memory ----------------------------------------------------------------


def test_tree_rss_counts_child_processes():
    import subprocess
    import time

    child = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(0.3)
        assert child.pid in core._children(os.getpid())
        own_mb = core._rss_kb(os.getpid()) / 1024
        assert core.tree_rss_mb(os.getpid()) > own_mb
    finally:
        child.kill()
        child.wait(timeout=10)


# ---- results --------------------------------------------------------------


def test_result_line_shape():
    line = core.result_line(True, 3, 0, {"setup_s": (1.5, "s")})
    assert json.loads(line) == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}
