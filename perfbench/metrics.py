"""Every metric the benchmark prints, with its unit and direction, and
for each per-layer metric the end-to-end metric it should move and the
workloads it is mostly on / barely on. ``BENCHMARK.json`` repeats the
name, unit and direction (its schema has no room for the rest);
``test_perfbench.py`` checks that the two agree.

Stage-based layer metrics (``<layer>.jobs``, ``.stages``, ``.cpu_s``,
``.failed_tasks`` and byte/row counts) are the jobs submitted while the
layer's span was the innermost one in the calling thread. Reader,
compact and sink work runs lazily inside the sink's write, so those
three layers are measured in the probe pass, where the reader and
compaction outputs are materialized first: ``reader.scan_s`` is the
reader probe, ``compact.s`` / ``compact.cpu_s`` the compaction probe
minus the reader probe, ``sink.s`` / ``sink.cpu_s`` the write minus
the compaction probe. Being differences of two measurements, these
can come out negative when the gap is within noise (the snapshot's
tables run concurrently). Everything else comes from the wrapped pass
without probes.
"""

from __future__ import annotations

WORKLOADS = ("bulk_load", "cdc_hotkey")

# name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "snapshot_s": ("s", "lower"),
    "resume_s": ("s", "lower"),
    "validate_s": ("s", "lower"),
    "pipeline_rows_per_s": ("rows/s", "higher"),
    "cpu_s": ("cpu-s", "lower"),
    "state_bytes_per_row": ("B/row", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ok_ratio": ("fraction", "higher"),
}

_BOTH = "bulk_load, cdc_hotkey"

# layer -> (end-to-end metrics it should move, mostly on / barely on)
LAYERS: dict[str, tuple[str, str]] = {
    "session": ("setup_s", _BOTH),
    "manifest": ("snapshot_s, resume_s", "cdc_hotkey / bulk_load"),
    "reader": ("snapshot_s", "cdc_hotkey, bulk_load"),
    "compact": ("snapshot_s, resume_s, cpu_s", "cdc_hotkey / bulk_load"),
    "sink": ("snapshot_s, resume_s, state_bytes_per_row", "bulk_load / cdc_hotkey"),
    "snapshot": ("snapshot_s, resume_s", "resume: bulk_load / cdc_hotkey"),
    "fsio": ("resume_s", _BOTH),
    "chunk": ("validate_s", "bulk_load / cdc_hotkey"),
    "diff": ("validate_s, cpu_s", "bulk_load / cdc_hotkey"),
    "validate": ("validate_s", "bulk_load / cdc_hotkey"),
}

# name -> (unit, better); every layer also gets .jobs/.stages/.cpu_s/.failed_tasks
_SPECIFIC: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "manifest.s": ("s", "lower"),
    "manifest.files_listed": ("count", "lower"),
    "manifest.files_kept": ("count", "lower"),
    "reader.plan_s": ("s", "lower"),
    "reader.scan_s": ("s", "lower"),
    "reader.input_rows": ("count", "lower"),
    "reader.input_bytes": ("B", "lower"),
    "reader.tasks": ("count", "lower"),
    "compact.s": ("s", "lower"),
    "compact.rows_in": ("count", "lower"),
    "compact.rows_out": ("count", "lower"),
    "compact.shuffle_bytes": ("B", "lower"),
    "compact.spill_bytes": ("B", "lower"),
    "compact.task_skew": ("ratio", "lower"),
    "compact.gc_s": ("s", "lower"),
    "sink.s": ("s", "lower"),
    "sink.rows": ("count", "lower"),
    "sink.bytes": ("B", "lower"),
    "sink.files": ("count", "lower"),
    "snapshot.table_s_p50": ("s", "lower"),
    "snapshot.table_s_max": ("s", "lower"),
    "snapshot.overlap": ("ratio", "higher"),
    "snapshot.busy_ratio": ("ratio", "higher"),
    "resume.rewrite_ratio": ("ratio", "lower"),
    "fsio.calls": ("count", "lower"),
    "fsio.s": ("s", "lower"),
    "chunk.s": ("s", "lower"),
    "diff.count_s": ("s", "lower"),
    "diff.hash_s": ("s", "lower"),
    "diff.rows_hashed": ("count", "lower"),
    "diff.shuffle_bytes": ("B", "lower"),
    "diff.chunks_mismatched": ("count", "lower"),
    "validate.table_s_p50": ("s", "lower"),
    "validate.table_s_max": ("s", "lower"),
    "validate.jobs_per_table": ("count", "lower"),
    "validate.busy_ratio": ("ratio", "higher"),
}

_RUN: dict[str, tuple[str, str]] = {
    "trace.overhead_s": ("s", "lower"),
    "failed_ratio": ("fraction", "lower"),
    "host.steal_s": ("s", "lower"),
    "host.loadavg_1m": ("procs", "lower"),
}


def per_layer() -> dict[str, tuple[str, str]]:
    out = dict(_SPECIFIC)
    for layer in LAYERS:
        out[f"{layer}.jobs"] = ("count", "lower")
        out[f"{layer}.stages"] = ("count", "lower")
        out[f"{layer}.cpu_s"] = ("cpu-s", "lower")
        out[f"{layer}.failed_tasks"] = ("count", "lower")
    out.update(_RUN)
    return out
