"""Run the benchmark repeatedly and check that it is steady.

    python3 perfbench/repeat.py --workload elt_batch --seeds 1-10
    python3 perfbench/repeat.py --workload analytics --seeds 1-10 --sets 2
    python3 perfbench/repeat.py --workload elt_batch --seeds 1-10 --overhead 3

For each end-to-end metric in BENCHMARK.json it prints the median, the
quartiles and the spread (interquartile distance over the median) of the
runs.  ``--sets 2`` runs the seeds twice and applies the run-to-run
check: each set's spread within the metric's bound (set-up time
exempt) and the second median not worse than the first by more than the
bound.  ``--overhead N`` also runs the first N seeds traced and reports
the tracing overhead as the traced minus the untraced medians of the
same seeds.  Runs are sequential; each result line is appended to
``--log`` as it arrives.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import compare_sets, median, spread  # noqa: E402


def seeds_of(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    return {"seed": seed, "trace": trace, "wall_s": time.time() - t0,
            "result": result, "report": report["metrics"]}


def summarize(runs: list[dict], names: list[str]) -> dict:
    out = {}
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        out[name] = {"median": median(vals), "q1": q1, "q3": q3,
                     "spread": spread(vals) if len(vals) > 1 else 0.0, "values": vals}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--overhead", type=int, default=0, metavar="N")
    ap.add_argument("--log", default=str(ROOT / "perfbench_out" / "repeat.jsonl"))
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = spec["end_to_end"]
    names = [m["name"] for m in e2e]
    Path(args.log).parent.mkdir(exist_ok=True)
    sets = []
    with open(args.log, "a") as log:
        for _ in range(args.sets):
            runs = []
            for seed in seeds_of(args.seeds):
                r = run_once(args.workload, seed, spec["run_seconds"], 0)
                log.write(json.dumps({"workload": args.workload, **r}) + "\n")
                log.flush()
                runs.append(r)
                print(f"seed {seed}: wall {r['wall_s']:.1f}s "
                      + " ".join(f"{n}={r['result']['metrics'][n]['value']:.4g}" for n in names),
                      file=sys.stderr, flush=True)
            sets.append(runs)
        traced = []
        if args.overhead:
            for seed in seeds_of(args.seeds)[: args.overhead]:
                r = run_once(args.workload, seed, spec["run_seconds"], 1)
                log.write(json.dumps({"workload": args.workload, **r}) + "\n")
                traced.append(r)

    summary = {"workload": args.workload, "sets": [summarize(s, names) for s in sets],
               "wall_s": [r["wall_s"] for s in sets for r in s]}
    for i, s in enumerate(summary["sets"]):
        for name in names:
            m = s[name]
            print(f"set {i + 1} {name}: median {m['median']:.4g} q1 {m['q1']:.4g} "
                  f"q3 {m['q3']:.4g} spread {m['spread']:.4f}", file=sys.stderr)
    ok = True
    if args.sets == 2:
        verdicts = compare_sets(
            [{n: r["result"]["metrics"][n]["value"] for n in names} for r in sets[0]],
            [{n: r["result"]["metrics"][n]["value"] for n in names} for r in sets[1]],
            e2e,
        )
        summary["verdicts"] = [v.__dict__ for v in verdicts]
        for v in verdicts:
            print(f"{v.metric}: {'ok' if v.ok else 'FAIL ' + v.reason}", file=sys.stderr)
        ok = all(v.ok for v in verdicts)
    if traced:
        over = {}
        for key in ("round_s", "op_s"):
            plain = median([r["report"][key]["value"] for r in sets[0][: len(traced)]])
            with_trace = median([r["report"][key]["value"] for r in traced])
            over[key] = {"untraced": plain, "traced": with_trace,
                         "overhead_s": with_trace - plain, "overhead_share": with_trace / plain - 1}
        summary["tracing_overhead"] = over
        print(f"tracing overhead: {json.dumps(over)}", file=sys.stderr)
    print(json.dumps(summary))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
