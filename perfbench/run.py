#!/usr/bin/env python3
"""CDC pipeline benchmark: snapshot -> resume -> validate on a seeded DMS drop.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 36 --trace 0

Each run generates its workload's drop from ``--seed`` (see
``dmsgen.py``), computes the expected states with the independent
oracle (``oracle.py``), starts one Spark session on ``local[nproc]``,
runs a warm-up pass on a drop a tenth of the size, then repeats the
timed pass (at least three times) while it still ends within
``--seconds`` and reports medians over the timed passes. With
``--trace 1`` it runs the traced passes of ``tracing.py`` instead and
reports the per-layer metrics. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; any failed
check makes the exit code non-zero. Scratch files live under
``.perfbench/`` in the working directory; spans and per-pass records
are written to ``.perfbench/<workload>-<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_PASSES = 1
# The warm-up pays the first-pass costs (class loading, plan codegen,
# JIT), which do not grow with the row count, so it runs on a drop of
# the same tables at a tenth of the size and leaves more of the run
# for timed passes.
WARMUP_SCALE = 0.1
MIN_TIMED_PASSES = 3
# A run lasts about a minute, so the JVM must reach steady state fast:
# C1 only (C2 kept recompiling, each pass ~10% faster than the last), a
# heap sized up front, the throughput collector (G1's concurrent cycles
# landed in a different pass each run) and no code-cache flushing (it
# evicted the code of earlier passes, and recompiling it cost ~6
# cpu-s in the third timed pass).
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -Xms2g -XX:+UseParallelGC -XX:-UseCodeCacheFlushing"


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it exits on EOF of
    the stdin pipe PySpark opened to it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every table size (self-tests use a tiny scale)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rust_dms_cdc_operator_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import metrics  # noqa: PLC0415
    import pipeline  # noqa: PLC0415
    import tracing  # noqa: PLC0415

    if args.workload not in metrics.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    cpus = len(os.sched_getaffinity(0))
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    work = pipeline.fresh_dir(os.path.join(out_dir, f"{args.workload}-{args.seed}"))
    tmp = pipeline.fresh_dir(os.path.join(work, "tmp"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher too, keeps its files here
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )

    t_gen = time.perf_counter()
    prep = pipeline.prepare(work, args.workload, args.seed, args.scale)
    warm = pipeline.prepare(os.path.join(work, "warmup"), args.workload, args.seed,
                            args.scale * WARMUP_SCALE)
    gen_s = time.perf_counter() - t_gen

    from rust_dms_cdc_operator_spark.session import get_spark  # noqa: PLC0415

    t_sess = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": JVM_OPTIONS,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t_sess

    sc = spark.sparkContext
    session = (tracing.job_stage_totals(sc, sc.statusTracker().getJobIdsForGroup(None))
               if args.trace else None)

    results: list = []  # every pass of the run, warm-ups included
    records: list[dict] = []

    def one_pass(kind: str, tracer=None, probes: bool = False, drop=prep):
        n = len(results)
        target = os.path.join(work, "target", f"p{n}")
        if tracer is None:
            r = pipeline.run_pass(spark, drop, target, cpus)
        else:
            with tracer.installed(n, probes):
                r = pipeline.run_pass(spark, drop, target, cpus, tracer)
        shutil.rmtree(target, ignore_errors=True)
        if tracer is not None:
            tracer.collect(n)
        results.append(r)
        rec = {"pass": n, "kind": kind, "snapshot_s": r.snapshot_s,
               "resume_s": r.resume_s, "validate_s": r.validate_s,
               "jvm_cpu_s": r.cpu_s, "host_steal_s": r.steal_s,
               "loadavg": r.loadavg,
               "failures": [f"{p} {t}: {why}" for (p, t), why in r.failures.items()]}
        records.append(rec)
        print(json.dumps(rec), file=sys.stderr)
        return r

    for _ in range(WARMUP_PASSES):
        one_pass("warmup", drop=warm)
    setup_s = time.perf_counter() - T_START - gen_s

    tracer = None
    t0 = time.perf_counter()
    last = 0.0  # duration of the last pass (or traced cycle)

    def fits() -> bool:
        """Whether one more pass like the last ends within ``--seconds``,
        so a run takes about the same time however fast its passes are."""
        return time.perf_counter() - t0 + last <= args.seconds

    if args.trace == 0:
        timed = []
        while len(timed) < MIN_TIMED_PASSES or fits():
            t1 = time.perf_counter()
            timed.append(one_pass("timed"))
            last = time.perf_counter() - t1
    else:
        tracer = tracing.Tracer(spark)
        cycles = []
        while not cycles or fits():
            t1 = time.perf_counter()
            untraced = one_pass("untraced")
            wrapped = one_pass("wrapped", tracer)
            probed = one_pass("probed", tracer, probes=True)
            spans = tracer.records()
            cycles.append({
                **tracing.layer_metrics(
                    [s for s in spans if s["pass"] == len(results) - 2],
                    [s for s in spans if s["pass"] == len(results) - 1],
                    untraced, wrapped, cpus, prep.b_rows),
                "host.steal_s": statistics.median(
                    r.steal_s or 0.0 for r in (untraced, wrapped, probed)),
                "host.loadavg_1m": probed.loadavg[0],
            })
            last = time.perf_counter() - t1
    peak_rss = _jvm_peak_rss_mb(spark)
    _stop(spark)

    attempted = sum(r.attempted for r in results)
    failed = sum(len(r.failures) for r in results)
    if args.trace == 0:
        m = {
            "setup_s": setup_s,
            "snapshot_s": statistics.median([r.snapshot_s for r in timed]),
            "resume_s": statistics.median([r.resume_s for r in timed]),
            "validate_s": statistics.median([r.validate_s for r in timed]),
            "pipeline_rows_per_s": statistics.median([prep.input_rows / r.wall_s for r in timed]),
            "cpu_s": statistics.median([r.cpu_s for r in timed]),
            "state_bytes_per_row": statistics.median([r.state_bytes / r.live_rows for r in timed]),
            "peak_rss_mb": peak_rss,
            "ok_ratio": 1.0 - failed / attempted,
        }
        units = metrics.END_TO_END
    else:
        m = {k: statistics.median([c[k] for c in cycles]) for k in cycles[0]}
        m.update({
            "session.start_s": session_s,
            "session.jobs": session["jobs"],
            "session.stages": session["stages"],
            "session.cpu_s": session["stage_metrics"]["executorCpuTime"] / 1e9,
            "session.failed_tasks": session["stage_metrics"]["numFailedTasks"],
            "failed_ratio": failed / attempted,
        })
        units = metrics.per_layer()
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "cores": cpus,
                   "gen_s": gen_s, "session_s": session_s, "passes": records,
                   "spans": tracer.records() if tracer else []}, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(m[k]), "unit": u} for k, (u, _b) in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
