"""One benchmark pass: ``CdcEngine.snapshot`` (LOAD + tranche A), then
``resume_snapshot`` (tranche B), then ``CdcEngine.validate`` against
the oracle's expected state -- timed per phase, with every output
checked after its phase outside the timed region.

Failures are counted per table operation (snapshot, resume and
validate of each table): an exception, a written row count that
differs from the oracle's, and a wrong validate verdict all count.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import bench  # repo-root bench.py: JVM cpu and host steal counters
import dmsgen
import oracle

CHUNK_SIZE = 1000
PLANTED_ROWS = 3


@dataclass
class Prepared:
    """A generated drop plus everything the checks compare against."""

    drop: str
    manifest: dict
    expected_dir: str
    snapshot_rows: dict[str, int]
    final_rows: dict[str, int]
    planted_table: str
    planted_chunks: list[int]
    input_rows: int  # LOAD + tranche A + tranche B rows
    b_rows: int  # tranche B rows: the CDC rows resume applies

    @property
    def tables(self) -> list[str]:
        return sorted(self.manifest["tables"])

    @property
    def pks(self) -> dict[str, list[str]]:
        return {t: m["pk"] for t, m in self.manifest["tables"].items()}


def prepare(work: str, workload: str, seed: int, scale: float = 1.0) -> Prepared:
    """Generate the drop and the oracle's expected states. The validate
    source side is the expected final state, with ``PLANTED_ROWS`` rows
    altered in one table so validate has chunks it must flag."""
    drop = os.path.join(work, "drop")
    manifest = dmsgen.write_drop(drop, workload, seed, scale)
    expected_dir = os.path.join(work, "expected")
    snapshot_rows, final_rows = {}, {}
    planted_table, planted_chunks = "", []
    rows = {"LOAD": 0, "early": 0, "A": 0, "B": 0}
    for table in sorted(manifest["tables"]):
        meta = manifest["tables"][table]
        for _key, _when, kind, n in meta["files"]:
            rows[kind] += n
        snap = oracle.replay(drop, manifest, table, dmsgen.START_DATE, dmsgen.STOP_DATE)
        final = oracle.replay(drop, manifest, table, dmsgen.START_DATE, None)
        snapshot_rows[table], final_rows[table] = snap.num_rows, final.num_rows
        if not planted_table and len(meta["pk"]) == 1:
            planted_table = table
            final, planted_chunks = oracle.plant(
                final, meta["pk"], CHUNK_SIZE, PLANTED_ROWS, seed
            )
        os.makedirs(os.path.join(expected_dir, table))
        pq.write_table(final, os.path.join(expected_dir, table, "part-0.parquet"))
    return Prepared(drop, manifest, expected_dir, snapshot_rows, final_rows,
                    planted_table, planted_chunks,
                    rows["LOAD"] + rows["A"] + rows["B"], rows["B"])


def written_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


@dataclass
class PassResult:
    snapshot_s: float = 0.0
    resume_s: float = 0.0
    validate_s: float = 0.0
    cpu_s: float = 0.0
    steal_s: float | None = None
    loadavg: list[float] = field(default_factory=list)
    state_bytes: int = 0
    live_rows: int = 0
    attempted: int = 0
    # (phase, table) -> reason; one entry per failed table operation
    failures: dict[tuple[str, str], str] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.snapshot_s + self.resume_s + self.validate_s


class _Phase:
    """Wall and JVM cpu of one phase, plus host steal across it; inside
    a traced pass also the phase's top-level span."""

    def __init__(self, spark, result: PassResult, name: str, tracer=None):
        self.spark, self.result = spark, result
        self.span = tracer.phase(name) if tracer else contextlib.nullcontext()

    def __enter__(self):
        self.c0 = bench._jvm_cpu_secs(self.spark)
        self.s0 = bench._host_steal_secs()
        self.t0 = time.perf_counter()
        self.span.__enter__()
        return self

    def __exit__(self, *exc):
        self.span.__exit__(*exc)
        self.wall = time.perf_counter() - self.t0
        self.result.cpu_s += bench._jvm_cpu_secs(self.spark) - self.c0
        s1 = bench._host_steal_secs()
        if self.s0 is not None and s1 is not None:
            self.result.steal_s = (self.result.steal_s or 0.0) + s1 - self.s0
        return False


def run_pass(spark, prep: Prepared, target: str, cpus: int, tracer=None) -> PassResult:
    from rust_dms_cdc_operator_spark import CdcEngine, CdcSnapshotPayload
    from rust_dms_cdc_operator_spark.payloads import CdcValidatePayload
    from rust_dms_cdc_operator_spark.snapshot import (
        ParquetTarget,
        SnapshotPartialFailure,
        resume_snapshot,
    )

    res = PassResult(attempted=3 * len(prep.tables))
    engine = CdcEngine(spark)
    db, schema = prep.manifest["database"], prep.manifest["schema"]
    payload = CdcSnapshotPayload(
        bucket_name="local", schema_name=schema, database_name=db,
        start_date=dmsgen.START_DATE, stop_date=dmsgen.STOP_DATE,
    )

    def state_path(table: str) -> str:
        return os.path.join(target, schema, table)

    def fail(phase: str, table: str, why: str) -> None:
        res.failures.setdefault((phase, table), why)

    def check_rows(phase: str, expected: dict[str, int], done: dict) -> None:
        for t in prep.tables:
            if t not in done:
                fail(phase, t, "no output")
                continue
            got = written_rows(state_path(t))
            if got != expected[t]:
                fail(phase, t, f"wrote {got} rows, oracle {expected[t]}")

    snapped: dict[str, str] = {}
    with _Phase(spark, res, "snapshot", tracer) as ph:
        try:
            snapped = engine.snapshot(payload, prep.drop, target,
                                      primary_keys=prep.pks, max_parallel_tables=cpus)
        except SnapshotPartialFailure as exc:
            snapped = exc.results
            for t, e in exc.failures.items():
                fail("snapshot", t, repr(e))
    res.snapshot_s = ph.wall
    check_rows("snapshot", prep.snapshot_rows, snapped)

    resumed: dict[str, str] = {}
    with _Phase(spark, res, "resume", tracer) as ph:
        try:
            resumed = resume_snapshot(spark, payload, ParquetTarget(target), prep.drop,
                                      primary_keys=prep.pks, since=dmsgen.STOP_DATE)
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            for t in prep.tables:
                fail("resume", t, repr(exc))
    res.resume_s = ph.wall
    check_rows("resume", prep.final_rows, resumed)

    reports = {}
    with _Phase(spark, res, "validate", tracer) as ph:
        try:
            sides = {
                t: (spark.read.parquet(os.path.join(prep.expected_dir, t)),
                    spark.read.parquet(state_path(t)), prep.pks[t])
                for t in prep.tables
            }
            reports = engine.validate(
                CdcValidatePayload(schema_name=schema, chunk_size=CHUNK_SIZE), sides
            )
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            for t in prep.tables:
                fail("validate", t, repr(exc))
    res.validate_s = ph.wall
    for t in prep.tables:
        rep = reports.get(t)
        want = prep.planted_chunks if t == prep.planted_table else []
        if rep is None:
            fail("validate", t, "no report")
        elif not rep.counts_match or rep.mismatched_chunks != want:
            fail("validate", t, f"counts_match={rep.counts_match} "
                 f"chunks={rep.mismatched_chunks}, expected {want}")
    res.loadavg = bench._loadavg()
    res.state_bytes = tree_bytes(target)
    res.live_rows = sum(prep.final_rows.values())
    return res


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
