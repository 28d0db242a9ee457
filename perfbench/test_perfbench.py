"""Self-tests of the benchmark at a tiny seed and size.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and oracle are checked on their own (determinism, the
adversarial files, a plain-dict replay) and then end to end against
``CdcEngine`` through ``run.py`` in both modes, which also checks the
printed metric names against ``BENCHMARK.json`` and the span file
against its schema.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import dmsgen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

TINY = 0.01


def _read(root, manifest, table, key):
    return pq.read_table(
        os.path.join(root, manifest["database"], manifest["schema"], table, key))


@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_generator_is_seeded_and_plants_adversarial_files(tmp_path, workload):
    a = dmsgen.write_drop(str(tmp_path / "a"), workload, 3, TINY)
    b = dmsgen.write_drop(str(tmp_path / "b"), workload, 3, TINY)
    c = dmsgen.write_drop(str(tmp_path / "c"), workload, 4, TINY)
    assert a == b
    start = oracle._naive_utc(dmsgen.START_DATE)
    for table, meta in a["tables"].items():
        keys = [f[0] for f in meta["files"]]
        assert keys[0] == "LOAD00000001.parquet"
        for key, when, kind, rows in meta["files"]:
            assert _read(str(tmp_path / "a"), a, table, key).equals(
                _read(str(tmp_path / "b"), b, table, key))
            assert _read(str(tmp_path / "a"), a, table, key).num_rows == rows
            path = os.path.join(tmp_path, "a", a["database"], a["schema"], table, key)
            assert datetime.utcfromtimestamp(os.path.getmtime(path)) == datetime.fromisoformat(when)
        kinds = [f[2] for f in meta["files"]]
        assert kinds.count("early") == 1
        early = next(f for f in meta["files"] if f[2] == "early")
        assert datetime.fromisoformat(early[1]) < start
        stamps = [f[1] for f in meta["files"] if f[2] == "A"]
        assert len(stamps) - len(set(stamps)) == 1  # one same-timestamp pair
        first_a = _read(str(tmp_path / "a"), a, table,
                        next(f[0] for f in meta["files"] if f[2] == "A")).to_pylist()
        deleted, reinserted = first_a[-2:]
        assert (deleted["Op"], reinserted["Op"]) == ("D", "I")
        assert [deleted[k] for k in meta["pk"]] == [reinserted[k] for k in meta["pk"]]
    seed3 = _read(str(tmp_path / "a"), a, sorted(a["tables"])[0], "LOAD00000001.parquet")
    seed4 = _read(str(tmp_path / "c"), c, sorted(c["tables"])[0], "LOAD00000001.parquet")
    assert not seed3.equals(seed4)


def _dict_replay(root, manifest, table, start, stop):
    """Row-by-row reference replay: insert/upsert/delete into a dict."""
    meta = manifest["tables"][table]
    state: dict = {}
    for key in oracle.select_files(meta["files"], start, stop):
        for row in _read(root, manifest, table, key).to_pylist():
            pk = tuple(row[c] for c in meta["pk"])
            if row.pop("Op") == "D":
                state.pop(pk, None)
            else:
                row.pop("_dms_ingestion_timestamp")
                state[pk] = row
    return [state[k] for k in sorted(state)]


@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_oracle_matches_row_by_row_replay(tmp_path, workload):
    root = str(tmp_path)
    m = dmsgen.write_drop(root, workload, 9, TINY)
    for table in m["tables"]:
        for stop in (dmsgen.STOP_DATE, None):
            got = oracle.replay(root, m, table, dmsgen.START_DATE, stop).to_pylist()
            assert got == _dict_replay(root, m, table, dmsgen.START_DATE, stop)


def test_plant_reports_the_chunks_it_altered(tmp_path):
    root = str(tmp_path)
    m = dmsgen.write_drop(root, "cdc_hotkey", 2, 0.1)
    state = oracle.replay(root, m, "orders", dmsgen.START_DATE, None)
    altered, chunks = oracle.plant(state, ["o_orderkey"], 100, 3, 2)
    diff = [i for i, (x, y) in enumerate(zip(state.to_pylist(), altered.to_pylist())) if x != y]
    assert len(diff) == 3
    assert chunks == sorted({i // 100 for i in diff})


def _run(workload: str, seed: int, trace: int, cwd) -> tuple[dict, subprocess.CompletedProcess]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--scale", str(TINY)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return (json.loads(lines[-1]) if lines else {}), proc


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_metric_table():
    bj = _benchmark_json()
    assert [w["name"] for w in bj["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bj["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bj["per_layer"]} == metrics.per_layer()


SPAN_KEYS = {"id", "name", "parent", "pass", "phase", "thread", "start", "end",
             "attrs", "jobs", "stages", "stage_metrics"}


@pytest.mark.parametrize(("workload", "trace"), [("bulk_load", 0), ("cdc_hotkey", 1)])
def test_end_to_end_against_engine(tmp_path, workload, trace):
    out, proc = _run(workload, 5, trace, tmp_path)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    bj = _benchmark_json()
    want = bj["per_layer"] if trace else bj["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    with open(tmp_path / ".perfbench" / f"{workload}-5-trace{trace}.json") as fh:
        record = json.load(fh)
    assert record["passes"] and all(not p["failures"] for p in record["passes"])
    if not trace:
        assert record["spans"] == []
        return
    names = {s["name"] for s in record["spans"]}
    for layer in ("manifest.build", "manifest.list", "reader.read", "reader.probe",
                  "compact.replay", "compact.merge", "compact.probe", "sink.write",
                  "fsio.rename", "chunk.with_chunk_id", "diff.count", "diff.hash",
                  "validate.table", "snapshot", "resume", "validate"):
        assert layer in names
    ids = {s["id"] for s in record["spans"]}
    for s in record["spans"]:
        assert set(s) - {"task_skew"} == SPAN_KEYS
        assert s["parent"] is None or s["parent"] in ids
        assert s["start"] <= s["end"]
        assert isinstance(s["stage_metrics"]["executorRunTime"], int)


def test_exits_nonzero_without_the_engine(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench_dir / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_load", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
