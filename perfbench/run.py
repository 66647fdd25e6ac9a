"""Benchmark entry point.

    python3 perfbench/run.py --workload elt_batch --seed 1 --seconds 10 --trace 0

Runs one workload (see BENCHMARK.json) closed loop with one client
against the public ``astro_spark`` API on ``local[<nproc>]``, checks every
output against an oracle, and prints two JSON lines on stdout: a report
of the workload's own named metrics (value, unit, sample count), then
the result line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` times the
same calls with Spark job attribution and reports the per-layer metrics
instead, writing every span to ``perfbench_out/``.

Everything the run writes stays under the checkout: inputs, the Spark
warehouse and temporary files go to ``.perfbench_work/`` and are
removed at exit.  Exits 2 when the program cannot be imported, 1 when
an output was wrong or a call failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3

# call name → layer; the traced run reports four measures for each
CALLS = [
    "operators.load_file.csv", "operators.load_file.ndjson", "operators.load_file.parquet",
    "operators.transform", "operators.run_raw_sql", "operators.dataframe",
    "operators.check_column", "operators.check_table", "operators.merge",
    "operators.append", "operators.export_to_file", "operators.cleanup",
    "operators.timetravel.tt_append", "operators.timetravel.tt_merge",
    "operators.timetravel.tt_update_where", "operators.timetravel.tt_delete_where",
    "operators.timetravel.tt_read_head", "operators.timetravel.tt_read_asof",
    "operators.timetravel.tt_changes", "operators.timetravel.tt_optimize",
    "operators.timetravel.tt_vacuum",
    "streaming.load_file_stream",
    "functions.text.quality_filter", "functions.dedup.exact_dedup",
    "functions.dedup.minhash_lsh_pairs", "functions.dedup.simhash_pairs",
    "functions.similarity.brute_force_topk",
]
LAYERS = ["operators", "operators.timetravel", "streaming", "functions"]
# ratios and counts the workloads measure at a layer boundary
LAYER_EXTRA = {
    "operators.load_file.rows_per_s": "rows/s",
    "streaming.load_file_stream.rows_per_s": "rows/s",
    "operators.merge.rewrite_amp": "ratio",
    "operators.timetravel.files_scanned_ratio": "ratio",
    "operators.timetravel.live_files": "count",
    "operators.timetravel.storage_amp": "ratio",
    "operators.timetravel.write_amp": "ratio",
    "functions.dedup.candidate_yield": "ratio",
    "functions.dedup.recall": "ratio",
    "operators.load_file.csv_probe_wrong_cols": "count",
}
END_TO_END = {"setup_s": "s", "round_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {}
    for c in CALLS:
        units.update({f"{c}.busy_s": "s", f"{c}.driver_s": "s",
                      f"{c}.jobs": "count", f"{c}.shuffle_bytes": "bytes"})
    for layer in LAYERS:
        units.update({f"{layer}.calls": "count", f"{layer}.failed": "count"})
    units.update(LAYER_EXTRA)
    units.update({"session.get_session_s": "s", "session.warmup_s": "s"})
    return units


def process_start() -> float:
    """Unix time this process started (from /proc), else now."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def pin_environment(work: Path) -> None:
    """Run-environment pins, set before pyspark is imported."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers must import astro_spark wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # JVM temp files inside the checkout too; no hsperfdata file in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))


def warm_up(spark, files: list[str]) -> None:
    """Page-cache pin of every input and the first query."""
    for p in files:
        with open(p, "rb") as fh:
            while fh.read(1 << 22):
                pass
    spark.range(1000).selectExpr("sum(id) AS s").collect()


def stop_spark() -> None:
    """Stop the session and the JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from tracing import process_tree, running

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    workers = process_tree([proc.pid])[1:]
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 10
    for pid in workers:
        while running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if running(pid):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args, work: Path, started: float, out) -> int:
    import astro_spark as a
    from pyspark import SparkContext

    import gen
    from stats import median, tail
    from tracing import Recorder, layer_of
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    rec = Recorder(traced=bool(args.trace), run_id=run_id)
    data_dir = work / "data"
    wl = WORKLOADS[args.workload](args.seed, str(data_dir), gen.Sizes())

    # -- set-up: the session and its warm-up SETUP_REPS times (the first
    # from process start, launching the JVM; the others restart the
    # context inside it), then the workload's own set-up once
    files = wl.input_files()
    rep_s, get_session_s, warmup_s = [], [], []
    t0 = started
    spark = None
    for i in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
            t0 = time.time()
        spark = a.get_session(f"perfbench-{args.workload}", warehouse_dir=str(work / f"warehouse{i}"))
        t1 = time.time()
        warm_up(spark, files)
        get_session_s.append(t1 - t0)
        warmup_s.append(time.time() - t1)
        rep_s.append(time.time() - t0)
    t2 = time.time()
    wl.setup(spark, rec, str(work / "rep"))
    workload_setup_s = time.time() - t2
    setup_s = median(rep_s) + workload_setup_s
    rec.attach(spark)

    # -- measure: complete rounds until the time is used up
    failed_round = None
    round_s, round_cpu_s = [], []
    t_run = time.time()
    while time.time() - t_run < args.seconds:
        first = len(rec.calls)
        try:
            wl.round()
        except Exception:  # noqa: BLE001 - a failing call ends the run
            failed_round = traceback.format_exc()
            print(failed_round, file=sys.stderr)
            break
        done = [c for c in rec.calls[first:] if wl.is_op(c.name)]
        round_s.append(sum(c.seconds for c in done))
        round_cpu_s.append(sum(c.cpu_s for c in done))
    measured_s = time.time() - t_run
    if failed_round is None:
        try:
            wl.finish(rec)
        except Exception:  # noqa: BLE001
            failed_round = traceback.format_exc()
            print(failed_round, file=sys.stderr)
    jvm = getattr(SparkContext._gateway, "proc", None)
    peak_mb = (vm_hwm_kb("self") + (vm_hwm_kb(jvm.pid) if jvm else 0)) / 1024

    attempted = max(1, len(rec.calls))
    failed = sum(not c.ok for c in rec.calls)
    if failed_round is not None and not failed:
        failed = 1  # the run broke outside any call
    ops = [c.seconds for c in rec.calls if wl.is_op(c.name)]
    correct = failed == 0 and not wl.wrong and failed_round is None
    for c in rec.calls:
        print(f"call {c.name} {c.seconds:.3f}s ok={c.ok} jobs={c.jobs}", file=sys.stderr)
    for msg in wl.wrong:
        print(f"WRONG OUTPUT {msg}", file=sys.stderr)

    e2e = {"setup_s": setup_s, "round_s": median(round_s) if round_s else 0.0}
    report = {k: {"value": v, "unit": u, "n": n} for k, v, u, n in (
        ("setup_s", setup_s, "s", SETUP_REPS),
        ("round_s", e2e["round_s"], "s", len(round_s)),
        ("rows_per_s", wl.rows / sum(ops) if ops else 0.0, "rows/s", len(ops)),
        ("peak_rss_mb", peak_mb, "MB", 1),
        ("round_cpu_s", median(round_cpu_s) if round_cpu_s else 0.0, "s", len(round_cpu_s)),
        ("op_s", median(ops) if ops else 0.0, "s", len(ops)),
    )}
    t = tail(ops)
    if t is not None:
        report["op_tail_s"] = {"value": t.value, "unit": f"s@p{t.percentile:g}", "n": t.n, "beyond": t.beyond}
    report.update({k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in wl.report.items()})
    report["op_fail_ratio"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}
    report["cold_start_s"] = {"value": rep_s[0], "unit": "s", "n": 1}
    report["workload_setup_s"] = {"value": workload_setup_s, "unit": "s", "n": 1}
    report["measured_s"] = {"value": measured_s, "unit": "s", "n": 1}

    if args.trace:
        wl.layer_ratios(rec.calls)
        metrics = trace_metrics(rec, wl, layer_of, {"get_session_s": median(get_session_s),
                                                    "warmup_s": median(warmup_s)})
        units = per_layer_units()
        out_dir = ROOT / "perfbench_out"
        out_dir.mkdir(exist_ok=True)
        rec.dump(str(out_dir / f"trace-{run_id}.json"))
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({"report": {"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "metrics": report}}), file=out, flush=True)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0 if correct else 1


def trace_metrics(rec, wl, layer_of, session: dict) -> dict[str, float]:
    from stats import median

    m: dict[str, float] = {}
    for name in CALLS:
        cs = [c for c in rec.calls if c.name == name]
        m[f"{name}.busy_s"] = median([c.seconds for c in cs]) if cs else 0.0
        m[f"{name}.driver_s"] = median([c.driver_s for c in cs]) if cs else 0.0
        m[f"{name}.jobs"] = median([c.jobs for c in cs]) if cs else 0.0
        m[f"{name}.shuffle_bytes"] = median([c.shuffle_bytes for c in cs]) if cs else 0.0
    for layer in LAYERS:
        cs = [c for c in rec.calls if layer_of(c.name) == layer]
        m[f"{layer}.calls"] = float(len(cs))
        m[f"{layer}.failed"] = float(sum(not c.ok for c in cs))
    for name in LAYER_EXTRA:
        m[name] = float(wl.layer_extra.get(name, 0.0))
    m["session.get_session_s"] = session["get_session_s"]
    m["session.warmup_s"] = session["warmup_s"]
    return m


def main(argv=None) -> int:
    started = process_start()
    args = parse_args(argv)
    # stdout carries only the two JSON lines: the JVM inherits FD 1 and
    # prints there, so FD 1 goes to stderr and a saved copy is kept
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    pin_environment(work)
    sys.path.insert(0, str(HERE))
    try:
        import astro_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        remove_work(work)
        return 2
    try:
        return run(args, work, started, out)
    finally:
        stop_spark()
        remove_work(work)


def remove_work(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # only when no other run is using it
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
