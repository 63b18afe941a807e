"""bench.py's gates, round history and compact stdout line — pure
functions over payload dicts and BENCH_r*.json bodies; no Spark session."""

from __future__ import annotations

import copy
import json
import os
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

RECALL_FLOORS = {
    "recall_gate": 733,
    "recall_gate_routed": 900,
    "recall_gate_routed_hard": 866,
}
# The hard twin measured 933 at registration; each lost ground-truth
# neighbor costs 33 permille: one is visible but tolerated, two fail.
EXTRA_RECALL_CASES = {"recall_gate_routed_hard": {933: True, 900: True, 833: False}}


def _payload_at(source: tuple[str, ...], value) -> dict:
    block, *path, field = source
    leaf = {field: value}
    for p in reversed(path):
        leaf = {p: leaf}
    return {block: leaf}


@pytest.mark.parametrize("name", list(bench.GATES))
def test_gate_table(name, monkeypatch):
    gate = bench.GATES[name]
    block = gate.source[0]
    # No measurement (report skipped, or the block lacks it): permissive.
    assert bench.check_gate(name, {}, 0.1)["ok"]
    assert bench.check_gate(name, {block: {}}, 0.1)["ok"]
    assert bench.check_gate(name, _payload_at(gate.source, None), 0.1)["ok"]

    if not callable(gate.floor):
        assert gate.floor == RECALL_FLOORS[name]
        assert gate.source[1] in {row[0] for row in bench.RECALL_FIXTURES}
        cases = {gate.floor - 1: False, gate.floor: True}
        cases.update(EXTRA_RECALL_CASES.get(name, {}))
        for value, ok in cases.items():
            rec = bench.check_gate(name, _payload_at(gate.source, value), 0.1)
            assert rec["ok"] is ok, (value, rec)
            assert rec["measured_permille"] == value
            assert rec["floor_permille"] == gate.floor
        return

    # Ingest: INGEST_FLOOR_SHARE x the trailing max, one re-run on breach.
    assert gate.rerun and bench.INGEST_FLOOR_SHARE == 0.6
    monkeypatch.setitem(bench.GATES, name, gate._replace(floor=lambda sf: [30000.0, 40000.0]))
    reruns: list[float] = []
    monkeypatch.setattr(
        bench, "run_ingest", lambda spark, d: {"rows_per_sec": reruns.pop(0)}
    )
    floor = bench.INGEST_FLOOR_SHARE * 40000.0
    payload = {block: {"rows_per_sec": floor}}
    assert bench.check_gate(name, payload, 0.1) == {"ok": True, "prev_max": 40000.0}

    # A spike that recovers: ok, and the better measurement is kept.
    reruns.append(39000.0)
    payload = {block: {"rows_per_sec": 10000.0}}
    rec = bench.check_gate(name, payload, 0.1, None, "dir")
    assert rec == {
        "ok": True,
        "prev_max": 40000.0,
        "first_rows_per_sec": 10000.0,
        "rerun_rows_per_sec": 39000.0,
    }
    assert payload[block] == {"rows_per_sec": 39000.0}

    # A breach that reproduces: not ok, both rates recorded.
    reruns.append(12000.0)
    payload = {block: {"rows_per_sec": 10000.0}}
    rec = bench.check_gate(name, payload, 0.1, None, "dir")
    assert rec == {
        "ok": False,
        "prev_max": 40000.0,
        "first_rows_per_sec": 10000.0,
        "rerun_rows_per_sec": 12000.0,
    }
    assert payload[block] == {"rows_per_sec": 12000.0}
    assert not reruns

    # No history at this sf: the gate stands down.
    monkeypatch.setitem(bench.GATES, name, gate._replace(floor=lambda sf: []))
    rec = bench.check_gate(name, {block: {"rows_per_sec": 1.0}}, 0.1)
    assert rec["ok"] and "reason" in rec


def _round(path, sf, queries, ingest):
    # A round record: bench's stdout line wrapped as ``parsed``.
    body = {"queries": queries, "sf": sf, "ingest_rows_per_sec": ingest}
    path.write_text(json.dumps({"parsed": body, "rc": 0, "sf": sf}))
    return str(path)


def test_history_is_matched_by_scale_before_the_cut(tmp_path, monkeypatch):
    """Two newer rounds at sf0.01 must not hide the sf0.1 history: the
    regression gate, common_with_prev and the ingest gate all pick the
    newest rounds AT the run's sf."""
    files = [
        _round(tmp_path / "BENCH_r16.json", 0.01, {"q_a": 0.05, "q_b": 0.1}, 9000.0),
        _round(tmp_path / "BENCH_r15.json", 0.01, {"q_a": 0.05, "q_b": 0.1}, 9100.0),
        str(tmp_path / "BENCH_r14x.json"),  # unparseable: skipped
        _round(tmp_path / "BENCH_r14.json", 0.1, {"q_a": 0.5, "q_b": 1.0, "_rest_total": 3.0}, 46690.1),
        _round(tmp_path / "BENCH_r13.json", 0.1, {"q_a": 0.6, "q_b": 1.1}, 48451.0),
    ]
    (tmp_path / "BENCH_r14x.json").write_text("{not json")
    monkeypatch.setattr(bench, "_bench_files_newest_first", lambda: files)

    class _Slow:  # the re-run reproduces the slowdown
        def count(self):
            time.sleep(1.2)
            return 0

    monkeypatch.setitem(bench.registry.QUERIES, "q_a", lambda spark, d: _Slow())

    timings = {"q_a": 4.5, "q_b": 1.0}  # q_a 9x slower than at r14
    gate = bench.regression_gate(None, "unused", timings, 0.1)
    assert not gate["ok"], gate
    assert set(gate["per_key_offenders"]) == {"q_a"}
    assert gate["total_breach"]["prev_file"] == "BENCH_r14.json"

    common = bench.common_with_prev({"q_a": 4.5, "q_b": 1.0}, 0.1)
    assert common == {
        "prev_file": "BENCH_r14.json",
        "n_queries": 2,
        "sec": 5.5,
        "prev_sec": 1.5,
    }
    assert bench.common_with_prev({"q_a": 4.5}, 0.001) is None
    assert bench.regression_gate(None, "unused", {"q_a": 4.5}, 0.001)["ok"]

    assert bench.GATES["ingest_gate"].floor(0.1) == [46690.1, 48451.0]
    assert bench.GATES["ingest_gate"].floor(0.01) == [9000.0, 9100.0]


def _committed_payload() -> dict:
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        return json.load(f)


def _failed(line: dict) -> set[str]:
    return {k for k, v in line.items() if v == "FAILED"}


def test_compact_line_fits_and_marks_each_failed_gate():
    payload = _committed_payload()
    line = bench._compact_line(payload)
    assert len(json.dumps(line, separators=(",", ":"))) <= 1900
    assert _failed(line) == set()
    for name in ("regression_gate", *bench.GATES):
        broken = copy.deepcopy(payload)
        broken[name] = {**broken.get(name, {}), "ok": False}
        assert _failed(bench._compact_line(broken)) == {name}
