"""Tracing for the pipeline benchmark, done entirely from the benchmark's
side: the engine's public calls are wrapped at run time (module
attributes swapped, nothing in the package edited) and restored after.

Each wrapper records a span -- name, start, end, parent, pass id and
table -- and sets a Spark job group in the calling thread, so every
Spark job is attributed to the innermost span that submitted it.
``snapshot`` replays tables on its own worker threads; the wrappers run
in those threads, so their job groups land there too. After a pass the
listener bus is drained and each span's jobs are resolved to stage
metrics from the status store.

Spark is lazy: a table's scan and compaction run inside the sink's
write. In a *probe* pass the ``read_manifest`` and compaction outputs
of each table are additionally sent to the ``noop`` sink, and the gaps
between those materializations split scan, compaction and write time.

``count_diff`` and ``chunked_hash_diff`` also return lazy frames whose
action ``validate_table`` runs right after the call; their spans stay
open (and keep their job group) until the next of them starts or the
table's validate returns, so each action is attributed to its diff.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "inputBytes", "inputRecords", "outputBytes", "outputRecords",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "jvmGcTime",
)
_GROUP = "perfbench-"
_PROPS = ("spark.jobGroup.id", "spark.job.description")


class Tracer:
    """Spans of the traced passes of one run, kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self.probes = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._phase: dict | None = None
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _open(self, name: str, **attrs) -> dict:
        tls = self._tls
        stack = tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._phase
        if "table" not in attrs and getattr(tls, "table", None):
            attrs["table"] = tls.table
        rec = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "phase": self._phase["name"] if self._phase else name,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(), "end": None, "attrs": attrs,
            "_prev": {k: self.sc.getLocalProperty(k) for k in _PROPS},
        }
        with self._lock:
            self.spans.append(rec)
        self.sc.setLocalProperty(_PROPS[0], f"{_GROUP}{rec['id']}")
        self.sc.setLocalProperty(_PROPS[1], name)
        stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._tls.stack.remove(rec)
        for k, v in rec.pop("_prev").items():
            self.sc.setLocalProperty(k, v)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self._open(name, **attrs)
        try:
            yield rec
        finally:
            self._close(rec)

    @contextmanager
    def phase(self, name: str):
        """Top-level span of one pipeline phase; spans opened on other
        threads while it runs (snapshot's workers) hang under it."""
        self._tls.table = None
        with self.span(name) as rec:
            self._phase = rec
            try:
                yield rec
            finally:
                self._phase = None

    def _close_open_diff(self) -> None:
        rec = getattr(self._tls, "open_diff", None)
        if rec is not None:
            self._tls.open_diff = None
            self._close(rec)

    # ------------------------------------------------------------ wrappers
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _spanned(self, name: str, after=None):
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name) as rec:
                    out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, out, args, kwargs)
                return out
            return wrapper
        return make

    def _open_diff(self, name: str):
        def make(orig):
            def wrapper(*args, **kwargs):
                self._close_open_diff()
                self._tls.open_diff = self._open(name)
                return orig(*args, **kwargs)
            return wrapper
        return make

    def install(self) -> None:
        """Swap in the wrappers; :meth:`uninstall` restores the originals."""
        from rust_dms_cdc_operator_spark import fsio
        from rust_dms_cdc_operator_spark import snapshot as snap
        from rust_dms_cdc_operator_spark import validate as val
        from rust_dms_cdc_operator_spark.operators import compact, diff
        from rust_dms_cdc_operator_spark.sources import manifest, reader

        tls = self._tls

        def build_manifest(orig):
            def wrapper(*args, **kwargs):
                tls.table = kwargs["table"]  # tags this table's later spans
                with self.span("manifest.build") as rec:
                    out = orig(*args, **kwargs)
                rec["attrs"]["files_kept"] = len(out)
                return out
            return wrapper

        def on_list(rec, out, args, kwargs):
            rec["attrs"]["files_listed"] = len(out)

        def on_read(rec, out, args, kwargs):
            tls.last_read = out

        def probe(name, df):
            with self.span(name):
                df.write.format("noop").mode("overwrite").save()

        def on_replay(rec, out, args, kwargs):
            if self.probes:
                probe("reader.probe", tls.last_read)
                probe("compact.probe", out)

        def on_merge(rec, out, args, kwargs):
            if self.probes:
                probe("reader.probe", args[1])
                probe("compact.probe", out)

        def on_write(rec, out, args, kwargs):
            rec["attrs"]["files"] = sum(
                1 for f in fsio.listdir(out) if f.endswith(".parquet")
            )

        def validate_table(orig):
            def wrapper(source, target, table, *args, **kwargs):
                with self.span("validate.table", table=table) as rec:
                    try:
                        out = orig(source, target, table, *args, **kwargs)
                    finally:
                        self._close_open_diff()
                rec["attrs"].update(rows=out.source_rows + out.target_rows,
                                    mismatched=len(out.mismatched_chunks))
                return out
            return wrapper

        self._patch(snap, "discover_tables_local", self._spanned("manifest.discover"))
        self._patch(snap, "build_manifest", build_manifest)
        self._patch(manifest, "list_local", self._spanned("manifest.list", on_list))
        for owner in (compact, reader):  # replay's import and resume's import
            self._patch(owner, "read_manifest", self._spanned("reader.read", on_read))
        self._patch(snap, "replay_manifest", self._spanned("compact.replay", on_replay))
        self._patch(compact, "merge_full_load_with_cdc",
                    self._spanned("compact.merge", on_merge))
        self._patch(snap.ParquetTarget, "write", self._spanned("sink.write", on_write))
        for op in ("rename", "delete", "exists"):
            self._patch(fsio, op, self._spanned(f"fsio.{op}"))
        self._patch(diff, "with_chunk_id", self._spanned("chunk.with_chunk_id"))
        self._patch(val, "count_diff", self._open_diff("diff.count"))
        self._patch(val, "chunked_hash_diff", self._open_diff("diff.hash"))
        self._patch(val, "validate_table", validate_table)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    @contextmanager
    def installed(self, pass_id: int, probes: bool):
        """The wrappers, swapped in for one traced pass."""
        self.pass_id, self.probes = pass_id, probes
        self.install()
        try:
            yield self
        finally:
            self.uninstall()

    # ------------------------------------------------------------ stage metrics
    def collect(self, pass_id: int) -> None:
        """Attach job and stage metrics to every span of a pass. Call
        after the pass, outside any timed region."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if rec["pass"] == pass_id:
                jobs = tracker.getJobIdsForGroup(f"{_GROUP}{rec['id']}")
                rec.update(job_stage_totals(self.sc, jobs,
                                            skew=rec["name"] == "compact.probe"))

    def records(self) -> list[dict]:
        return [{k: v for k, v in r.items() if not k.startswith("_")} for r in self.spans]


def job_stage_totals(sc, job_ids, skew: bool = False) -> dict:
    """Job count, executed-stage count and summed stage metrics of some
    Spark jobs (skipped stages excluded). With ``skew``, also the
    max/median task run time of the stage that read the most shuffle."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    totals = dict.fromkeys(_STAGE_FIELDS, 0)
    ran, biggest = 0, None
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never attempted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        ran += 1
        vals = {f: getattr(st, f)() for f in _STAGE_FIELDS}
        for f, v in vals.items():
            totals[f] += v
        if vals["shuffleReadBytes"] and (biggest is None or vals["shuffleReadBytes"] > biggest[0]):
            biggest = (vals["shuffleReadBytes"], sid, st.attemptId())
    out = {"jobs": len(job_ids), "stages": ran, "stage_metrics": totals}
    if skew and biggest is not None:
        out["task_skew"] = _task_skew(sc, store, biggest[1], biggest[2])
    return out


def _task_skew(sc, store, stage_id: int, attempt: int) -> float | None:
    """max / median task run time of one stage, from its task summary."""
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(stage_id, attempt, q)
    if summary.isEmpty():
        return None
    run = summary.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med else None


# ---------------------------------------------------------------- metrics
def _sum(spans, key) -> float:
    return float(sum(key(s) for s in spans))


def _stage(spans, field: str) -> float:
    return _sum(spans, lambda s: s.get("stage_metrics", {}).get(field, 0))


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _p50(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(wrapped: list[dict], probed: list[dict], untraced,
                  traced, cores: int, b_rows: int) -> dict[str, float]:
    """Per-layer metrics of one trace cycle. ``wrapped`` are the spans of
    the pass without probes (durations and the stage metrics of the
    unprobed layers), ``probed`` those of the probe pass (reader,
    compact and sink, whose work the probes separate). ``untraced`` is
    the untraced pass run just before the wrapped pass ``traced``."""

    def named(spans, *prefixes):
        return [s for s in spans if s["name"].startswith(prefixes)]

    def generic(layer: str, spans: list[dict], cpu_s: float | None = None) -> dict:
        return {
            f"{layer}.jobs": _sum(spans, lambda s: s.get("jobs", 0)),
            f"{layer}.stages": _sum(spans, lambda s: s.get("stages", 0)),
            f"{layer}.cpu_s": _stage(spans, "executorCpuTime") / 1e9 if cpu_s is None else cpu_s,
            f"{layer}.failed_tasks": _stage(spans, "numFailedTasks"),
        }

    def in_phase(phase: str) -> list[dict]:
        return [s for s in wrapped if s["phase"] == phase]

    out: dict[str, float] = {}
    # manifest
    man = named(wrapped, "manifest.discover", "manifest.build")
    out["manifest.s"] = _sum(man, _dur)
    out["manifest.files_listed"] = _sum(named(wrapped, "manifest.list"),
                                        lambda s: s["attrs"]["files_listed"])
    out["manifest.files_kept"] = _sum(named(wrapped, "manifest.build"),
                                      lambda s: s["attrs"]["files_kept"])
    out.update(generic("manifest", named(wrapped, "manifest.")))

    # reader / compact / sink: probe-pass gaps
    rp, cp = named(probed, "reader.probe"), named(probed, "compact.probe")
    reader_cpu = _stage(rp, "executorCpuTime") / 1e9
    compact_cpu = _stage(cp, "executorCpuTime") / 1e9
    out["reader.plan_s"] = _sum(named(wrapped, "reader.read"), _dur)
    out["reader.scan_s"] = _sum(rp, _dur)
    out["reader.input_rows"] = _stage(rp, "inputRecords")
    out["reader.input_bytes"] = _stage(rp, "inputBytes")
    out["reader.tasks"] = _stage(rp, "numTasks")
    out.update(generic("reader", named(probed, "reader."), reader_cpu))

    sink_w = [s for s in wrapped if s["name"] == "sink.write"]
    resume_self = [s for s in wrapped if s["name"] == "resume"]
    out["compact.s"] = _sum(cp, _dur) - out["reader.scan_s"]
    out["compact.rows_in"] = _stage(cp, "inputRecords")
    out["compact.rows_out"] = _stage(sink_w + resume_self, "outputRecords")
    out["compact.shuffle_bytes"] = _stage(cp, "shuffleWriteBytes")
    out["compact.spill_bytes"] = _stage(cp, "memoryBytesSpilled") + _stage(cp, "diskBytesSpilled")
    out["compact.task_skew"] = max((s.get("task_skew") or 0.0 for s in cp), default=0.0)
    out["compact.gc_s"] = _stage(cp, "jvmGcTime") / 1e3
    out.update(generic("compact", named(probed, "compact."), compact_cpu - reader_cpu))

    sink_p = [s for s in probed if s["name"] == "sink.write"]
    snap_cp = [s for s in cp if s["phase"] == "snapshot"]
    out["sink.s"] = _sum(sink_p, _dur) - _sum(snap_cp, _dur)
    out["sink.rows"] = _stage(sink_w, "outputRecords")
    out["sink.bytes"] = _stage(sink_w, "outputBytes")
    out["sink.files"] = _sum(sink_w, lambda s: s["attrs"]["files"])
    out.update(generic("sink", sink_p,
                       _stage(sink_p, "executorCpuTime") / 1e9
                       - _stage(snap_cp, "executorCpuTime") / 1e9))

    # snapshot / resume orchestration
    snap_root = next(s for s in wrapped if s["name"] == "snapshot")
    per_table: dict[tuple[str, str], list[dict]] = {}
    for s in wrapped:
        if s["phase"] == "snapshot" and s["attrs"].get("table"):
            per_table.setdefault((s["thread"], s["attrs"]["table"]), []).append(s)
    table_s = [max(s["end"] for s in ss) - min(s["start"] for s in ss)
               for ss in per_table.values()]
    out["snapshot.table_s_p50"] = _p50(table_s)
    out["snapshot.table_s_max"] = max(table_s, default=0.0)
    out["snapshot.overlap"] = sum(table_s) / untraced.snapshot_s
    out["snapshot.busy_ratio"] = (_stage(in_phase("snapshot"), "executorRunTime") / 1e3
                                  / (_dur(snap_root) * cores))
    out["resume.rewrite_ratio"] = _stage(resume_self, "outputRecords") / b_rows
    out.update(generic("snapshot", [s for s in wrapped if s["name"] in ("snapshot", "resume")]))

    # fsio
    fs = named(wrapped, "fsio.")
    out["fsio.calls"] = float(len(fs))
    out["fsio.s"] = _sum(fs, _dur)
    out.update(generic("fsio", fs))

    # chunk / diff
    ch = named(wrapped, "chunk.")
    out["chunk.s"] = _sum(ch, _dur)
    out.update(generic("chunk", ch))
    dc, dh = named(wrapped, "diff.count"), named(wrapped, "diff.hash")
    vt = named(wrapped, "validate.table")
    out["diff.count_s"] = _sum(dc, _dur)
    out["diff.hash_s"] = _sum(dh, _dur) - out["chunk.s"]
    out["diff.rows_hashed"] = _sum(vt, lambda s: s["attrs"]["rows"])
    out["diff.shuffle_bytes"] = _stage(dh, "shuffleWriteBytes")
    out["diff.chunks_mismatched"] = _sum(vt, lambda s: s["attrs"]["mismatched"])
    out.update(generic("diff", dc + dh))

    # validate orchestration
    val_root = next(s for s in wrapped if s["name"] == "validate")
    val_tree = in_phase("validate")
    tdur = [_dur(s) for s in vt]
    out["validate.table_s_p50"] = _p50(tdur)
    out["validate.table_s_max"] = max(tdur, default=0.0)
    out["validate.jobs_per_table"] = _sum(val_tree, lambda s: s.get("jobs", 0)) / max(1, len(vt))
    out["validate.busy_ratio"] = (_stage(val_tree, "executorRunTime") / 1e3
                                  / (_dur(val_root) * cores))
    out.update(generic("validate", [val_root, *vt]))

    out["trace.overhead_s"] = traced.wall_s - untraced.wall_s
    return out

