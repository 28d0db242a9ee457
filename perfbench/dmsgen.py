"""Seeded AWS-DMS drop generator for the pipeline benchmark.

Writes the reference key layout under ``<root>/<db>/<schema>/<table>/``:
``LOAD00000001.parquet`` (every row ``Op='I'``), then CDC files named
``YYYY/MM/DD/YYYYMMDD-HHMMSSmmm.parquet`` whose mtime is set to the
file's event time with ``os.utime`` -- ``list_local`` reads mtime as
``last_modified``, so the mtimes are what make the snapshot's
``start_date``/``stop_date`` window select tranche A and the resume's
``since`` bound select tranche B.

Every table also gets the adversarial cases the replay must survive:

- one CDC file dated before ``START_DATE`` (updates that must be ignored);
- a pair of tranche-A files with the same timestamp (their key order,
  ``<stamp>-2.parquet`` < ``<stamp>.parquet``, decides the winner);
- a delete followed by a re-insert of one key inside a single file.

Table columns follow the sf0.1 test tables orders, lineitem and events;
the values are synthesized from the seed, so the benchmark reads
nothing outside its own checkout.
The same (workload, seed, scale) always produces byte-identical rows.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB, SCHEMA = "benchdb", "public"
START_DATE = "2026-08-01T00:00:00Z"
STOP_DATE = "2026-08-03T00:00:00Z"  # end of tranche A == resume's `since`
_LOAD_TIME = datetime(2026, 7, 31, 6, 0, 0)
_EARLY_TIME = datetime(2026, 7, 30, 9, 30, 0)  # before START_DATE: ignored
_A_FIRST = datetime(2026, 8, 1, 1, 0, 0)
_B_FIRST = datetime(2026, 8, 3, 1, 0, 0)
_TS0 = np.datetime64("2020-01-01T00:00:00", "us")

# table -> (pk columns, arrow schema); the column sets of sf0.1
TABLES: dict[str, tuple[list[str], pa.Schema]] = {
    "orders": (["o_orderkey"], pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string())])),
    "lineitem": (["l_orderkey", "l_linenumber"], pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))])),
    "events": (["event_id"], pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())])),
}

_LINES_PER_ORDER = 4


@dataclass(frozen=True)
class TableSpec:
    """One generated table: ``load_rows`` LOAD rows, then tranche A
    (``a_events`` CDC rows over ``a_files`` files, before ``STOP_DATE``)
    and tranche B (``b_events`` over ``b_files``, after it). ``mix`` is
    the I/U/D share; ``zipf`` > 1 draws U/D keys from a Zipf law."""

    name: str
    load_rows: int
    a_events: int
    a_files: int
    b_events: int
    b_files: int
    mix: tuple[float, float, float] = (0.2, 0.6, 0.2)
    zipf: float = 0.0

    @property
    def pk(self) -> list[str]:
        return TABLES[self.name][0]

    @property
    def schema(self) -> pa.Schema:
        return TABLES[self.name][1]


def _uniform(name: str, rows: int) -> TableSpec:
    """10% uniform churn in 20 files before STOP_DATE, 1% in 4 after."""
    return TableSpec(name, rows, max(8, rows // 10), 20, max(4, rows // 100), 4)


def workload_tables(workload: str, scale: float = 1.0) -> list[TableSpec]:
    """The table set of one workload; ``scale`` multiplies every row
    and event count (self-tests run at a tiny scale)."""

    def n(x: float) -> int:
        return max(16, int(x * scale))

    if workload == "bulk_load":
        return [
            _uniform("lineitem", n(60_000)),
            _uniform("orders", n(30_000)),
        ]
    if workload == "cdc_hotkey":
        hot = dict(mix=(0.1, 0.8, 0.1), zipf=1.2)
        return [
            TableSpec(name, n(20_000), n(60_000), 100, n(6_000), 10, **hot)
            for name in ("orders", "events")
        ]
    raise ValueError(f"unknown workload {workload!r}")


def _rng(seed: int, *tags: object) -> np.random.Generator:
    """Stable per-(seed, tags) stream: crc32, not hash(), which is
    salted per process."""
    return np.random.default_rng([seed, zlib.crc32(repr(tags).encode())])


def _timestamps(rng: np.random.Generator, n: int) -> np.ndarray:
    return _TS0 + rng.integers(0, 5 * 365 * 86_400, size=n) * np.timedelta64(1, "s")


def make_rows(table: str, ids: np.ndarray, rng: np.random.Generator) -> dict[str, object]:
    """Column arrays for logical row ids ``ids`` of a table. The
    pk is a function of the id; every other value is drawn from
    ``rng``, so an update of an id gets fresh values."""
    n = len(ids)
    ids = ids.astype(np.int64)
    price = lambda lo, hi: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda *vals: np.array(vals)[rng.integers(0, len(vals), n)]  # noqa: E731
    if table == "orders":
        return {"o_orderkey": ids, "o_custkey": rng.integers(1, 15_000, n),
                "o_orderstatus": pick("F", "O", "P"),
                "o_totalprice": price(800, 500_000),
                "o_orderdate": _timestamps(rng, n),
                "o_orderpriority": pick("1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW")}
    if table == "lineitem":
        return {"l_orderkey": ids // _LINES_PER_ORDER,
                "l_partkey": rng.integers(1, 20_000, n),
                "l_suppkey": rng.integers(1, 1_000, n),
                "l_linenumber": (ids % _LINES_PER_ORDER + 1).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": price(900, 100_000),
                "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
                "l_returnflag": pick("A", "N", "R"),
                "l_linestatus": pick("F", "O"),
                "l_shipdate": _timestamps(rng, n)}
    if table == "events":
        return {"event_id": ids, "ts": _timestamps(rng, n),
                "user_id": rng.integers(1, 10_000, n),
                "event_type": pick("click", "view", "buy", "share"),
                "value": np.round(rng.exponential(20.0, n), 4),
                "props": [f'{{"k":{k}}}' for k in rng.integers(0, 100, n)]}
    raise ValueError(table)


def _table(spec: TableSpec, ops: list[str] | np.ndarray, ids: np.ndarray,
           when: datetime, rng: np.random.Generator) -> pa.Table:
    cols = make_rows(spec.name, ids, rng)
    n = len(ids)
    arrays = [pa.array(list(ops), pa.string()),
              pa.array(np.full(n, np.datetime64(when, "us")), pa.timestamp("us"))]
    arrays += [pa.array(cols[f.name], f.type) for f in spec.schema]
    names = ["Op", "_dms_ingestion_timestamp", *spec.schema.names]
    return pa.Table.from_arrays(arrays, names=names)


def _key_of(when: datetime, suffix: str = "") -> str:
    return (f"{when:%Y/%m/%d}/{when:%Y%m%d-%H%M%S}"
            f"{when.microsecond // 1000:03d}{suffix}.parquet")


def _events(spec: TableSpec, rng: np.random.Generator, n_events: int,
            next_id: int) -> tuple[np.ndarray, np.ndarray, int]:
    """(ops, ids) for ``n_events`` CDC rows. Inserts take fresh ids;
    updates and deletes hit LOAD ids, uniformly or Zipf-ranked through
    a seeded permutation (so the hot key is not always id 0)."""
    ops = rng.choice(np.array(["I", "U", "D"]), size=n_events, p=spec.mix)
    ids = np.empty(n_events, dtype=np.int64)
    ins = ops == "I"
    ids[ins] = next_id + np.arange(int(ins.sum()))
    m = int((~ins).sum())
    if spec.zipf > 1.0:
        ranks = (rng.zipf(spec.zipf, m) - 1) % spec.load_rows
        ids[~ins] = rng.permutation(spec.load_rows)[ranks]
    else:
        ids[~ins] = rng.integers(0, spec.load_rows, m)
    return ops, ids, next_id + int(ins.sum())


def write_drop(root: str, workload: str, seed: int, scale: float = 1.0) -> dict:
    """Write one workload's drop under ``root``; returns the manifest the
    oracle replays: per table its pk and every file as ``[key,
    event_time_iso, kind, rows]`` with kind in LOAD / early / A / B."""
    manifest: dict = {"database": DB, "schema": SCHEMA, "start_date": START_DATE,
                      "stop_date": STOP_DATE, "tables": {}}
    for spec in workload_tables(workload, scale):
        rng = _rng(seed, workload, spec.name)
        tdir = os.path.join(root, DB, SCHEMA, spec.name)
        files: list[list[str]] = []

        def put(key: str, kind: str, tbl: pa.Table, when: datetime) -> None:
            path = os.path.join(tdir, key)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(tbl, path)
            t = when.replace(tzinfo=timezone.utc).timestamp()
            os.utime(path, (t, t))
            files.append([key, when.isoformat(), kind, tbl.num_rows])

        load_ids = np.arange(spec.load_rows, dtype=np.int64)
        put("LOAD00000001.parquet", "LOAD",
            _table(spec, ["I"] * spec.load_rows, load_ids, _LOAD_TIME, rng), _LOAD_TIME)
        # updates of LOAD rows dated before START_DATE: must be ignored
        early = load_ids[: max(4, spec.load_rows // 100)]
        put(_key_of(_EARLY_TIME), "early",
            _table(spec, ["U"] * len(early), early, _EARLY_TIME, rng), _EARLY_TIME)

        next_id = spec.load_rows
        for kind, first, n_events, n_files in (
            ("A", _A_FIRST, spec.a_events, spec.a_files),
            ("B", _B_FIRST, spec.b_events, spec.b_files),
        ):
            ops, ids, next_id = _events(spec, rng, n_events, next_id)
            step = timedelta(hours=22) / n_files
            for f, (f_ops, f_ids) in enumerate(
                zip(np.array_split(ops, n_files), np.array_split(ids, n_files))
            ):
                f_ops, f_ids = list(f_ops), list(f_ids)
                if f == 0:
                    # delete-then-reinsert of one key inside one file
                    f_ops += ["D", "I"]
                    f_ids += [int(ids[0]), int(ids[0])]
                when = first + step * f
                if kind == "A" and f == 1:
                    # same timestamp as file 0: key order decides, and
                    # "<stamp>-2.parquet" sorts before "<stamp>.parquet"
                    when = first
                    f_ops += ["U"]
                    f_ids += [int(ids[0])]
                suffix = "-2" if kind == "A" and f == 1 else ""
                put(_key_of(when, suffix), kind,
                    _table(spec, f_ops, np.array(f_ids, dtype=np.int64), when, rng),
                    when)
        manifest["tables"][spec.name] = {"pk": spec.pk, "files": files}
    return manifest
