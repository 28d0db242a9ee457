"""Expected-state oracle for the pipeline benchmark.

An independent last-writer-wins replay of a generated DMS drop in
pandas/pyarrow: it imports nothing from the engine. File selection
follows the DMS window contract on the generator's recorded event
times (LOAD always; CDC strictly inside ``(start, stop)``), files apply
in key order, rows in file order, and for each primary key the last
event wins -- a final ``D`` removes the key.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_DMS_COLS = ["Op", "_dms_ingestion_timestamp"]
PLANTED_VALUE = "PLANTED-DIFF"


def _naive_utc(iso: str) -> datetime:
    d = datetime.fromisoformat(iso)
    if d.tzinfo is not None:
        d = d.astimezone(timezone.utc).replace(tzinfo=None)
    return d


def select_files(files: list[list[str]], start: str | None, stop: str | None) -> list[str]:
    """Keys to replay, in replay order."""
    lo = _naive_utc(start) if start else None
    hi = _naive_utc(stop) if stop else None
    keep = []
    for key, when, kind, _rows in files:
        t = _naive_utc(when)
        if kind == "LOAD" or ((lo is None or t > lo) and (hi is None or t < hi)):
            keep.append(key)
    return sorted(keep, key=lambda k: (0 if "LOAD" in k.rsplit("/", 1)[-1] else 1, k))


def replay(root: str, manifest: dict, table: str,
           start: str | None, stop: str | None) -> pa.Table:
    """Final state of ``table`` after the files in the window."""
    meta = manifest["tables"][table]
    tdir = os.path.join(root, manifest["database"], manifest["schema"], table)
    frames = []
    for key in select_files(meta["files"], start, stop):
        tbl = pq.read_table(os.path.join(tdir, key))
        frames.append(tbl.to_pandas(timestamp_as_object=False))
    events = pd.concat(frames, ignore_index=True)  # file order, then row order
    data_cols = [c for c in events.columns if c not in _DMS_COLS]
    last = events.drop_duplicates(subset=meta["pk"], keep="last")
    state = last[last["Op"] != "D"][data_cols].sort_values(meta["pk"])
    schema = tbl.schema.remove(0).remove(0)  # drop Op, _dms_ingestion_timestamp
    return pa.Table.from_pandas(state, schema=schema, preserve_index=False)


def plant(state: pa.Table, pk: list[str], chunk_size: int,
          n: int, seed: int) -> tuple[pa.Table, list[int]]:
    """Alter one string column in ``n`` rows of a pk-sorted state and
    return the altered table plus the sorted chunk ids (``rank //
    chunk_size`` in pk order) a correct validate must flag."""
    rows = state.num_rows
    pos = np.sort(np.random.default_rng([seed, 7]).choice(rows, size=min(n, rows),
                                                           replace=False))
    col = next(f.name for f in state.schema
               if pa.types.is_string(f.type) and f.name not in pk)
    values = state.column(col).to_pylist()
    for p in pos:
        values[p] = PLANTED_VALUE
    idx = state.schema.get_field_index(col)
    altered = state.set_column(idx, state.schema.field(idx), pa.array(values, pa.string()))
    return altered, sorted({int(p) // chunk_size for p in pos})
