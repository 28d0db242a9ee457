"""Snapshot orchestration (SURVEY §3.1): rebuild every table of a
schema from its DMS S3 drop and write it to a target.

The reference fans out one async future per table with
``buffer_unordered(80)`` (cdc_operator.rs:57-249); here every table
runs through :func:`fanout.per_table`, one thread per table under its
own FAIR scheduler pool, so tables share the cluster instead of
queueing FIFO. The per-table pipeline is the single-scan replay of
``operators.compact.replay_manifest`` — not per-file loops.

Targets: ``ParquetTarget`` (local/lake state tables — fully testable
here) or ``sinks.postgres.PostgresSink`` (JDBC; gated on a driver).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from rust_dms_cdc_operator_spark import fsio
from rust_dms_cdc_operator_spark.fanout import NUM_OF_BUFFERS, PartialFailure, per_table
from rust_dms_cdc_operator_spark.operators.compact import replay_manifest
from rust_dms_cdc_operator_spark.payloads import CdcSnapshotPayload, TableMode
from rust_dms_cdc_operator_spark.sources.manifest import build_manifest


class SnapshotPartialFailure(PartialFailure):
    """One or more tables failed while the REST COMPLETED AND
    COMMITTED — the reference's ``buffer_unordered`` drain semantics
    (cdc_operator.rs:244-249: ``stream.for_each`` drives every
    per-table future to completion regardless of its siblings'
    outcomes; nothing is rolled back). ``results`` holds the
    committed table→path map, ``failures`` the per-table exceptions,
    so a caller can retry exactly the failed subset."""

    finished = "committed"


@dataclass
class ParquetTarget:
    """Writes each rebuilt table as parquet under ``root/schema/table``."""

    root: str

    def write(self, df: DataFrame, schema: str, table: str, pk: list[str]) -> str:
        path = fsio.join(self.root, schema, table)
        df.write.mode("overwrite").parquet(path)
        return path


@dataclass
class JdbcTarget:
    """Writes each rebuilt table into a live JDBC database through the
    S9/S10 DDL + S7 bulk-insert path (the reference's target Postgres,
    cdc_operator.rs:32-35,103-110,173-198). The snapshot is a full
    rebuild, so the table is recreated, then bulk-appended.

    DDL is serialized across the per-table snapshot threads (the
    shared CREATE SCHEMA is a write-write catalog conflict under
    concurrent transactions); the bulk data writes stay parallel."""

    sink: "object"  # sinks.postgres.PostgresSink (duck-typed to avoid import gate)
    _ddl_lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def write(self, df: DataFrame, schema: str, table: str, pk: list[str]) -> str:
        from rust_dms_cdc_operator_spark.sinks.ddl import pg_type_for  # noqa: PLC0415

        spark = df.sparkSession
        with self._ddl_lock:
            self.sink.create_schema(spark, schema)
            self.sink.run_sql(spark, f"DROP TABLE IF EXISTS {schema}.{table}")
            self.sink.create_table(
                spark,
                {f.name: pg_type_for(f.dataType) for f in df.schema.fields},
                list(pk),
                schema,
                table,
            )
        self.sink.insert(df, schema, table)
        return f"{schema}.{table}"


def discover_tables_local(
    root: str, database: str, schema: str, s3_prefix: str = ""
) -> list[str]:
    """Filesystem stand-in for the S15 catalog scan: table = directory
    under {root}/{prefix}/{db}/{schema}/ — the same key layout the
    manifest listers use (manifest.table_prefix). Works for local paths
    AND scheme-qualified roots (s3a://, file://, …) via :mod:`fsio`."""
    base = fsio.join(root, *(p for p in (s3_prefix, database, schema) if p))
    return sorted(fsio.listdir_dirs(base))


def resolve_tables(payload: CdcSnapshotPayload, discovered: list[str]) -> list[str]:
    """Include/exclude semantics (snapshot_payload.rs:78-86)."""
    mode = payload.table_mode
    if mode is TableMode.INCLUDE:
        return [t for t in discovered if t in set(payload.included_tables)]
    if mode is TableMode.EXCLUDE:
        return [t for t in discovered if t not in set(payload.excluded_tables)]
    return discovered


def snapshot(
    spark: SparkSession,
    payload: CdcSnapshotPayload,
    target: ParquetTarget,
    root: str,
    primary_keys: dict[str, list[str]] | None = None,
    max_parallel_tables: int = NUM_OF_BUFFERS,
) -> dict[str, str]:
    """Run the snapshot: discover tables, replay each manifest, write
    final state. Returns table → written path.

    ``primary_keys`` maps table → PK columns (from the S14 catalog scan
    when a source Postgres is attached; required per-table for CDC
    semantics, tables absent from the map replay as append-only).
    """
    tables = resolve_tables(
        payload,
        discover_tables_local(
            root, payload.database_name, payload.schema_name, payload.s3_prefix
        ),
    )
    pks = primary_keys or {}
    # FAIR scheduling must be set at session build time
    # (get_spark(extra_conf={"spark.scheduler.mode": "FAIR"})); the
    # per-table pools of the fan-out are a no-op under FIFO, correct
    # either way

    def one_table(table: str) -> str:
        manifest = build_manifest(
            mode=payload.mode,
            root=root,
            database=payload.database_name,
            schema=payload.schema_name,
            table=table,
            s3_prefix=payload.s3_prefix,
            start_date=payload.start_date,
            stop_date=payload.stop_date,
        )
        state = replay_manifest(spark, root, manifest, pks.get(table, []))
        return target.write(state, payload.schema_name, table, pks.get(table, []))

    # a missing prefix or mid-replay error on ONE table must not abort
    # (or roll back) the others: failures are reported together
    results, failures = per_table(spark, tables, one_table, max_parallel_tables)
    if failures:
        raise SnapshotPartialFailure(results, failures)
    return results


def resume_snapshot(
    spark: SparkSession,
    payload: CdcSnapshotPayload,
    target: ParquetTarget,
    root: str,
    primary_keys: dict[str, list[str]] | None = None,
    since: str | None = None,
) -> dict[str, str]:
    """Incremental re-run: apply only the CDC files newer than
    ``since`` onto each table's EXISTING state — a re-run costs
    O(new events + touched state), never a full LOAD+CDC re-replay.

    Tables run concurrently through the same per-table fan-out as
    :func:`snapshot` (default width, capped at the table count). Every
    table heals, merges and commits whatever happens to its siblings;
    failures then raise :class:`SnapshotPartialFailure` carrying the
    committed tables and the per-table exceptions. A failed table keeps
    its previous live state.

    Discovery reuses the DATE_AWARE window (exclusive ``since`` bound,
    reference semantics) but drops LOAD files: the state on disk
    already contains them. Tables with no new events are untouched and
    omitted from the result. The merged state is written to a sibling
    temp dir and swapped in (the plan reads the directory it replaces,
    so an in-place overwrite would consume its own output).

    Filesystem ops route through :mod:`fsio`, so the swap also runs on
    scheme-qualified roots. Caveat: directory rename is atomic on local
    FS/HDFS; on s3a it is the connector's copy+delete — the ``_SUCCESS``
    heal still converges, but the manifest-committed
    ``streaming.BucketedParquetState`` is the recommended continuously-
    updated state on object stores.
    """
    from rust_dms_cdc_operator_spark.operators.compact import (  # noqa: PLC0415
        merge_full_load_with_cdc,
    )
    from rust_dms_cdc_operator_spark.sources.reader import read_manifest  # noqa: PLC0415

    if not since:
        raise ValueError("resume_snapshot requires `since` (ISO datetime)")
    pks = primary_keys or {}
    tables = resolve_tables(
        payload,
        discover_tables_local(
            root, payload.database_name, payload.schema_name, payload.s3_prefix
        ),
    )

    def one_table(table: str) -> str | None:
        files = build_manifest(
            mode="date-aware",
            root=root,
            database=payload.database_name,
            schema=payload.schema_name,
            table=table,
            s3_prefix=payload.s3_prefix,
            start_date=since,
        )
        path = fsio.join(target.root, payload.schema_name, table)
        tmp, old = f"{path}.resume", f"{path}.old"
        # heal a previous crash first (even if this run brings no new
        # files): live dir missing means we died between the
        # rename-aside and the rename-in — whichever complete copy
        # exists (tmp with _SUCCESS, else the set-aside old) is restored
        if not fsio.exists(path):
            if fsio.exists(fsio.join(tmp, "_SUCCESS")):
                fsio.rename(tmp, path)
            elif fsio.exists(old):
                fsio.rename(old, path)
        fsio.delete(old)
        fsio.delete(tmp)
        cdc_files = [f for f in files if not f.is_load_file()]
        if not cdc_files:
            return None
        cdc = read_manifest(spark, root, cdc_files)
        state = spark.read.parquet(path)
        merged = merge_full_load_with_cdc(state, cdc, pks.get(table, []))
        merged.write.mode("overwrite").parquet(tmp)
        # commit: set the live dir aside, move the new one in, then
        # drop the old — at no point is the only complete copy deleted
        fsio.rename(path, old)
        fsio.rename(tmp, path)
        fsio.delete(old)
        return path

    done, failures = per_table(spark, tables, one_table)
    results = {t: p for t, p in done.items() if p is not None}
    if failures:
        raise SnapshotPartialFailure(results, failures)
    return results
