"""Validate orchestration (SURVEY §3.2): datadiff between source and
target — the engine-native replacement for the ``rust-pgdatadiff``
delegation (cdc_operator.rs:255-293).

Each table gets V1 (count) + V2 (chunked hash, resumable) and an
optional V3 drill-down; sources are anything Spark reads (parquet
state dirs here, ``spark.read.jdbc`` frames against live databases).
Tables run concurrently through the same per-table fan-out as
``snapshot`` (:func:`fanout.per_table`): each table is ~11 small Spark
jobs, and another table's jobs use the cores while one waits on
planning and job latency. A failing table does not stop the others.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_dms_cdc_operator_spark.fanout import NUM_OF_BUFFERS, PartialFailure, per_table
from rust_dms_cdc_operator_spark.operators.diff import (
    chunked_hash_diff,
    count_diff,
    row_diff,
)
from rust_dms_cdc_operator_spark.payloads import CdcValidatePayload


MAX_REPORTED_CHUNKS = 1024


class ValidatePartialFailure(PartialFailure):
    """One or more tables failed to validate while the rest finished.
    ``results`` holds the finished table → :class:`TableReport` map,
    ``failures`` the per-table exceptions."""

    finished = "validated"


@dataclass
class TableReport:
    table: str
    source_rows: int
    target_rows: int
    counts_match: bool
    mismatched_chunks: list[int] = field(default_factory=list)
    mismatched_chunks_truncated: bool = False

    @property
    def ok(self) -> bool:
        return self.counts_match and not self.mismatched_chunks


def validate_table(
    source: DataFrame,
    target: DataFrame,
    table: str,
    pk_cols: list[str],
    chunk_size: int = 1000,
    start_position: int = 0,
    max_reported_chunks: int = MAX_REPORTED_CHUNKS,
) -> TableReport:
    counts = count_diff(source, target).first()
    # bounded collect: two wholly-different tables mismatch on EVERY
    # chunk — report the first N ids (ordered, so resume positions are
    # right) plus a truncation flag instead of an unbounded driver list
    chunks = (
        chunked_hash_diff(source, target, pk_cols, chunk_size, start_position)
        .select("chunk_id")
        .limit(max_reported_chunks + 1)
        .collect()
    )
    truncated = len(chunks) > max_reported_chunks
    return TableReport(
        table=table,
        source_rows=counts["source_rows"],
        target_rows=counts["target_rows"],
        counts_match=bool(counts["counts_match"]),
        mismatched_chunks=[r["chunk_id"] for r in chunks[:max_reported_chunks]],
        mismatched_chunks_truncated=truncated,
    )


def tables_in_flight(max_connections: int, n_tables: int) -> int:
    """How many tables ``validate`` runs at once: snapshot's default
    width, capped by the table count and by the payload's connection
    pool size (each table in flight holds at least one source
    connection, as in the reference's pool)."""
    return max(1, min(NUM_OF_BUFFERS, n_tables, max_connections))


def validate(
    spark: SparkSession,
    payload: CdcValidatePayload,
    tables: dict[str, tuple[DataFrame, DataFrame, list[str]]],
) -> dict[str, TableReport]:
    """Validate every table: name → (source_df, target_df, pk_cols).
    Table include/exclude follows the payload (V4). Returns name →
    report in sorted name order; if any table fails, the others still
    finish and :class:`ValidatePartialFailure` carries their reports
    and the per-table exceptions."""
    names = sorted(tables)
    if payload.included_tables:
        names = [t for t in names if t in set(payload.included_tables)]
    elif payload.excluded_tables:
        names = [t for t in names if t not in set(payload.excluded_tables)]

    def one_table(name: str) -> TableReport:
        src, tgt, pk = tables[name]
        return validate_table(
            src, tgt, name, pk, payload.chunk_size, payload.start_position
        )

    reports, failures = per_table(
        spark, names, one_table,
        tables_in_flight(payload.max_connections, len(names)),
    )
    if failures:
        raise ValidatePartialFailure(reports, failures)
    return reports


def drill_down(
    source: DataFrame, target: DataFrame, pk_cols: list[str]
) -> DataFrame:
    """V3: per-row diff for the tables a report flagged."""
    return row_diff(source, target, pk_cols).orderBy(*pk_cols)


# ------------------------------------------------------------- sequences
@dataclass
class SequenceReport:
    """One sequence's last_value on each side. Mirrors the
    ``only_sequences`` half of the reference's pgdatadiff surface
    (DiffPayload, pinned false at cdc_operator.rs:271-272) — off by
    default here too (``CdcValidatePayload.only_sequences``)."""

    sequence: str
    source_last_value: int | None
    target_last_value: int | None
    in_source: bool = True
    in_target: bool = True

    @property
    def ok(self) -> bool:
        """Equal last_values AND present on both sides — a
        never-advanced sequence (NULL last_value) must not compare
        equal to a missing one."""
        return (
            self.in_source
            and self.in_target
            and self.source_last_value == self.target_last_value
        )


def sequence_diff_maps(
    source: dict[str, int | None], target: dict[str, int | None]
) -> dict[str, SequenceReport]:
    """Pure comparison half (unit-testable without a database): a
    sequence present on only one side is never ok, even when the
    present side's last_value is NULL (never advanced)."""
    out: dict[str, SequenceReport] = {}
    for name in sorted(set(source) | set(target)):
        out[name] = SequenceReport(
            sequence=name,
            source_last_value=source.get(name),
            target_last_value=target.get(name),
            in_source=name in source,
            in_target=name in target,
        )
    return out


def sequence_diff(
    spark: SparkSession,
    source_url: str,
    target_url: str,
    schema: str,
    source_properties: dict | None = None,
    target_properties: dict | None = None,
) -> dict[str, SequenceReport]:
    """Compare every sequence's last_value between two live databases
    (catalog query ``sources/catalog.sequences_sql``). Driver-side by
    design: a schema has O(tables) sequences — catalog metadata, not
    data movement."""
    from rust_dms_cdc_operator_spark.sources.catalog import (  # noqa: PLC0415
        get_schema_sequences,
    )

    return sequence_diff_maps(
        get_schema_sequences(spark, source_url, schema, source_properties),
        get_schema_sequences(spark, target_url, schema, target_properties),
    )
