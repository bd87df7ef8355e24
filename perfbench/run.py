"""Repo benchmark: seeded workloads, end-to-end metrics, traced layer split.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process runs one workload as a
closed loop with one client on ``local[<cores>]``: inputs are generated
from the seed (untimed), the session is built and warmed up by
``WARMUP_PASSES`` passes over the workload's op list (together
``setup_s``), then timed passes repeat until ``--seconds`` have passed
and at least ``MIN_PASSES`` ran.  ``pass_best_s`` and ``cpu_best_s``
sum, over the workload's ops, each op's least wall time and least
process-tree CPU over the timed passes: the cost of one pass with the
host's transient stalls filtered out.
Every op's output is checked between passes.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
earlier lines are a human-readable summary, including the op tail
percentile and the failure fraction.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and reports the per-layer split of the
traced ones (status-store counters per op, spans written to
``.perfbench_work/traces/``) plus ``trace.overhead``, the ratio of
traced to untraced pass time.

All scratch state lives under ``.perfbench_work/`` in the current
directory.  Exits non-zero, printing no result, when the engine
package cannot be imported or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
RUN = os.path.join(WORK, "run")
DRIVER_MEMORY = "2g"
# Warm passes keep speeding up for several passes while the JIT
# compiles, and a shared host stalls single ops for seconds at a time,
# so the first two passes are warm-up and each op reports its best of
# at least three timed runs.  On a shared 4-vCPU VM, over ten seeds of
# registry_mix, the spread (IQR/median) of the summed per-op best was
# 0.096, against 0.139 for the mean of the same passes.
WARMUP_PASSES = 2
MIN_PASSES = 3

sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import StatusReader, Tracer  # noqa: E402
from perfbench.workloads import LAYERS, layer_of, make_workloads  # noqa: E402

# name: (unit, better).  BENCHMARK.json lists the same names; the
# self-tests check that the two agree.
END_TO_END = {
    "setup_s": ("s", "lower"), "pass_best_s": ("s", "lower"),
    "cpu_best_s": ("s", "lower"), "driver_rss_mb": ("MB", "lower"),
    "ok_frac": ("ratio", "higher"),
}
LAYER_STATS = {
    "wall_s": ("s", "lower"), "driver_only_s": ("s", "lower"),
    "in_job_s": ("s", "lower"), "jobs": ("count", "lower"),
    "tasks": ("count", "lower"), "exec_cpu_s": ("s", "lower"),
    "parallel_eff": ("ratio", "higher"), "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"), "failed": ("count", "lower"),
}
PER_LAYER = {
    **{f"{layer}.{stat}": v for layer in LAYERS for stat, v in LAYER_STATS.items()},
    "session.build_s": ("s", "lower"), "session.warmup_s": ("s", "lower"),
    "sources.ingest.input_mb": ("MB", "higher"),
    "sources.ingest.output_mb": ("MB", "lower"),
    "sources.ingest.files_loaded": ("count", "higher"),
    "sources.ingest.files_skipped": ("count", "higher"),
    "sources.txtable.output_mb": ("MB", "lower"),
    "sources.txtable.commits": ("count", "lower"),
    "trace.overhead": ("ratio", "lower"),
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate_scratch() -> None:
    """Point every temp-file user (Python, the JVM, the engine's
    tempfile-based scratch dirs) inside the checkout."""
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    os.environ["TMPDIR"] = os.path.join(RUN, "tmp")
    tempfile.tempdir = None


def _session(build_session):
    return build_session(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(RUN, "warehouse"),
            "spark.local.dir": os.path.join(RUN, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files, and its perf-data file, out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )


def _shutdown_jvm() -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _written_since(path: str, since: float) -> tuple[int, int]:
    """(parquet bytes, TxTable manifests) written under ``path`` at or
    after ``since``."""
    nbytes = manifests = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:  # vacuumed while we walked
                continue
            if st.st_mtime < since:
                continue
            if f.endswith(".parquet"):
                nbytes += st.st_size
            elif f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit():
                manifests += 1
    return nbytes, manifests


class Runner:
    """Runs passes over a workload's ops and checks every output."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.attempted = self.failed = 0
        self.problems: dict[str, list[str]] = {}

    def one_pass(self, spark, pass_no, traced, reader, label):
        """One timed pass; returns (wall_s, per-op records).  Output
        checks run after the pass, outside its wall time."""
        self.wl.reset(spark, pass_no)
        records = []
        with self.tracer.span(label, pass_no=pass_no, traced=traced):
            t_pass = time.perf_counter()
            for op in self.wl.ops:
                rec = {"op": op, "out": None, "error": None}
                with self.tracer.span("op", op=op) as sp:
                    first_job = reader.mark() if traced else None
                    c0, h0 = stats.tree_cpu_s(), stats.host_cpu_ticks()
                    t0 = time.perf_counter()
                    try:
                        rec["out"] = self.wl.run(spark, op, self.tracer)
                    except Exception as exc:  # noqa: BLE001 — counted as a failed op
                        traceback.print_exc()
                        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                    rec["wall"] = time.perf_counter() - t0
                    rec["cpu"] = stats.tree_cpu_s() - c0
                    h1 = stats.host_cpu_ticks()
                    # share of all CPUs' time the hypervisor gave away
                    rec["steal"] = sp.attrs["steal"] = (
                        (h1[0] - h0[0]) / (h1[1] - h0[1]) if h1[1] > h0[1] else 0.0)
                if traced:
                    rec["counters"] = reader.counters(first_job, sp.start, sp.end)
                    scratch = os.path.join(os.environ["TMPDIR"], "fpl_spark_scratch")
                    rec["pq_bytes"], rec["commits"] = _written_since(scratch, sp.start)
                records.append(rec)
            wall = time.perf_counter() - t_pass
        with self.tracer.span("check", pass_no=pass_no):
            for rec in records:
                self._account(rec)
        return wall, records

    def _account(self, rec):
        op = rec["op"]
        problems = [rec["error"]] if rec["error"] else self.wl.check(op, rec["out"])
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.setdefault(op, []).extend(problems)
        rec["failed"] = bool(problems)


def layer_metrics(records_by_pass, wl, n_cores):
    """Per traced pass, sum each layer's ops; report medians over passes."""
    per_pass = []
    for recs in records_by_pass:
        acc = {
            layer: dict.fromkeys(
                ("wall_s", "in_job_s", "jobs", "tasks", "exec_cpu_s",
                 "exec_run_s", "shuffle_mb", "spill_mb", "failed"), 0.0)
            for layer in LAYERS
        }
        for r in recs:
            a = acc[layer_of(r["op"])]
            a["wall_s"] += r["wall"]
            a["failed"] += r["failed"]
            for k in ("in_job_s", "jobs", "tasks", "exec_cpu_s", "exec_run_s",
                      "shuffle_mb", "spill_mb"):
                a[k] += r["counters"][k]
        row = {}
        for layer, a in acc.items():
            row[f"{layer}.wall_s"] = a["wall_s"]
            row[f"{layer}.driver_only_s"] = a["wall_s"] - a["in_job_s"]
            row[f"{layer}.in_job_s"] = a["in_job_s"]
            row[f"{layer}.jobs"] = a["jobs"]
            row[f"{layer}.tasks"] = a["tasks"]
            row[f"{layer}.exec_cpu_s"] = a["exec_cpu_s"]
            row[f"{layer}.parallel_eff"] = (
                a["exec_run_s"] / (a["in_job_s"] * n_cores) if a["in_job_s"] else 0.0
            )
            row[f"{layer}.shuffle_mb"] = a["shuffle_mb"]
            row[f"{layer}.spill_mb"] = a["spill_mb"]
            row[f"{layer}.failed"] = a["failed"]
        tx = [r for r in recs if layer_of(r["op"]) in ("sources.txtable", "sources.sqldml")]
        row["sources.txtable.output_mb"] = sum(r["pq_bytes"] for r in tx) / 1e6
        row["sources.txtable.commits"] = sum(r["commits"] for r in tx)
        ingest = [r for r in recs if layer_of(r["op"]) == "sources.ingest"]
        row["sources.ingest.files_loaded"] = sum(
            len(r["out"].loaded) for r in ingest if r["out"] is not None)
        row["sources.ingest.files_skipped"] = sum(
            len(r["out"].skipped) for r in ingest if r["out"] is not None)
        row["sources.ingest.input_mb"] = sum(
            wl.loaded_bytes(r["op"], r["out"]) for r in ingest if r["out"] is not None
        ) / 1e6
        # every pass starts from empty tables and loads the same files, so
        # the warehouse the last pass left is each pass's output
        row["sources.ingest.output_mb"] = wl.output_bytes() / 1e6 if ingest else 0.0
        per_pass.append(row)
    return {k: statistics.median([row[k] for row in per_pass]) for k in per_pass[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_scratch()
    try:
        from etl_pipeline_fresh_picked_leads_spark.session import build_session
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    workloads = make_workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    wl = workloads[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(wl.name, run_id)

    try:
        with tracer.span("prepare"):
            wl.prepare(args.seed, RUN)
        # restart this process's peak-RSS count: input generation is not
        # the engine's memory
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return _measure(wl, args, tracer, build_session)
    finally:
        _shutdown_jvm()
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        shutil.rmtree(RUN, ignore_errors=True)


def _measure(wl, args, tracer, build_session) -> int:
    runner = Runner(wl, tracer)
    n_cores = cores()
    # One cold start per run: a new process pays the JVM launch and the
    # first, cold pass; set-up is timed once because repeating it in
    # the same process would only measure a warm JVM.
    with tracer.span("setup"):
        t0 = time.perf_counter()
        with tracer.span("build_session"):
            spark = _session(build_session)
            spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t0
        reader = StatusReader(spark)
        # pass walls only: the first check of a registry op also builds
        # its DuckDB oracle
        warmup_s = sum(
            runner.one_pass(spark, -1 - w, False, reader, "warmup")[0]
            for w in range(WARMUP_PASSES))

    walls = {False: [], True: []}
    # per op, over the untraced timed passes
    op_wall = {op: [] for op in wl.ops}
    op_cpu = {op: [] for op in wl.ops}
    traced_records, all_walls, steals = [], [], []
    t_start = time.perf_counter()
    pass_no = 0
    while pass_no < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        traced = bool(args.trace) and pass_no % 2 == 1
        wall, records = runner.one_pass(spark, pass_no, traced, reader, "pass")
        walls[traced].append(wall)
        all_walls.extend(r["wall"] for r in records)
        steals.extend(r["steal"] for r in records)
        if traced:
            traced_records.append(records)
        else:
            for r in records:
                op_wall[r["op"]].append(r["wall"])
                op_cpu[r["op"]].append(r["cpu"])
        pass_no += 1
    for op, problems in wl.check_final(spark).items():
        runner.failed += 1
        runner.problems.setdefault(op, []).extend(problems)

    # ---- report
    tail_v, tail_p, tail_n = stats.tail(all_walls)
    print(f"workload {wl.name}: seed {args.seed}, local[{n_cores}], closed loop, 1 client")
    print(f"inputs: {json.dumps(wl.inputs, sort_keys=True)}")
    print(f"passes: {WARMUP_PASSES} warm-up, {len(walls[False])} untraced, "
          f"{len(walls[True])} traced; untraced pass wall median "
          f"{statistics.median(walls[False]):.4f} s, mean "
          f"{statistics.mean(walls[False]):.4f} s; host steal share "
          f"{statistics.mean(steals):.3f}")
    # printed, not reported: too few op samples per run for a tail, and
    # the median over unlike ops jumps between them (see CHANGES.md)
    print(f"op_p50_s {statistics.median(all_walls):.4f} s and op_tail_s {tail_v:.4f} s "
          f"(p{tail_p}) over {len(all_walls)} op samples ({tail_n} beyond the tail); "
          f"fail_frac {runner.failed / runner.attempted:.4f} "
          f"({runner.failed} of {runner.attempted} ops)")
    for op, ws in op_wall.items():
        print(f"  {op:24s} wall best {min(ws):7.3f} median {statistics.median(ws):7.3f} s, "
              f"cpu best {min(op_cpu[op]):7.3f} s over {len(ws)} untraced")
    for op, problems in runner.problems.items():
        print(f"  FAILED {op}: {problems[:3]}")

    if args.trace:
        metrics = layer_metrics(traced_records, wl, n_cores)
        metrics["session.build_s"] = build_s
        metrics["session.warmup_s"] = warmup_s
        metrics["trace.overhead"] = statistics.median(walls[True]) / statistics.median(walls[False])
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": build_s + warmup_s,
            "pass_best_s": stats.sum_of_best(op_wall),
            "cpu_best_s": stats.sum_of_best(op_cpu),
            "driver_rss_mb": stats.peak_rss_mb(),
            "ok_frac": 1.0 - runner.failed / runner.attempted,
        }
        units = END_TO_END
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k][0]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
