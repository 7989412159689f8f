"""Steadiness check: runs the benchmark in sets of runs of the same code and
prints, per workload and end-to-end metric, each set's median, quartiles and
spread (inter-quartile range over the median), and the change of the second
set's median against the first. Every run also records its own wall time,
`/proc/loadavg` before and after, and the CPU time of the processes it
started, so a run hit by host load can be told apart.

    python3 perfbench/steady.py --sets 2 --seeds 10 [--workloads offline-train,...]
    python3 perfbench/steady.py --sets 1 --seeds 3 --trace-overhead

With `--trace-overhead` each seed is also run traced, and the traced runs'
median round wall time (`trace.wall_s`) against the untraced `wall_s` is
reported as the tracing overhead. Run it from the root of a checkout; the
per-run records go to `.bench_build/steady.jsonl`.
"""
import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# run.py takes --seconds as the harness passes it; every run is fixed work
RUN_SECONDS = 12


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def one(workload, seed, trace):
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    load0, t0 = loadavg(), time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(RUN_SECONDS),
                        "--trace", str(trace)], capture_output=True, text=True)
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    rec = dict(workload=workload, seed=seed, trace=trace, rc=p.returncode,
               run_s=time.time() - t0, load_before=load0, load_after=loadavg(),
               cpu_s=(after.ru_utime - before.ru_utime) +
                     (after.ru_stime - before.ru_stime))
    try:
        rec["result"] = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        rec["result"] = None
        rec["stderr"] = p.stderr[-2000:]
    return rec


def spread(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    log = open(os.path.join(run.BUILD_DIR, "steady.jsonl"), "a")
    sets = []
    for s in range(a.sets):
        recs = []
        for w in workloads:
            for i in range(a.seeds):
                seed = a.first_seed + s * a.seeds + i
                for trace in ((0, 1) if a.trace_overhead else (0,)):
                    r = one(w, seed, trace)
                    log.write(json.dumps(r) + "\n")
                    log.flush()
                    res = r["result"]
                    print(f"set {s} {w} seed {seed} trace {trace}: run {r['run_s']:.1f} s, "
                          f"cpu {r['cpu_s']:.1f} s, load {r['load_before'][0]:.2f}->"
                          f"{r['load_after'][0]:.2f}, " +
                          (f"failed {res['failed']}/{res['attempted']} correct {res['correct']}"
                           if res else f"NO RESULT rc={r['rc']}: {r.get('stderr', '')[-300:]}"),
                          flush=True)
                    recs.append(r)
        sets.append(recs)

    for w in workloads:
        print(f"\n== {w}")
        runs = [[r for r in recs if r["workload"] == w and r["trace"] == 0 and r["result"]]
                for recs in sets]
        if not all(runs):
            print("  no results")
            continue
        for m in runs[0][0]["result"]["metrics"]:
            meds = []
            line = f"  {m:16s}"
            for rs in runs:
                vals = [r["result"]["metrics"][m]["value"] for r in rs]
                q1, q2, q3, sp = spread(vals) if len(vals) > 1 else (vals[0],) * 3 + (0.0,)
                meds.append(q2)
                line += f" | med {q2:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} spread {sp:6.3f}"
            if len(meds) > 1:
                line += f" | change {meds[-1] / meds[0] - 1:+.3f}"
            print(line)
        fails = [sum(r["result"]["failed"] for r in rs) / sum(r["result"]["attempted"] for r in rs)
                 for rs in runs]
        print(f"  failed share per set: {fails}")
        print(f"  run seconds per set: {[round(statistics.median(r['run_s'] for r in rs), 1) for rs in runs]}")
        if a.trace_overhead:
            traced = [r for recs in sets for r in recs
                      if r["workload"] == w and r["trace"] == 1 and r["result"]]
            t = statistics.median(r["result"]["metrics"]["trace.wall_s"]["value"] for r in traced)
            u = statistics.median(r["result"]["metrics"]["wall_s"]["value"] for rs in runs for r in rs)
            print(f"  tracing overhead on the median round wall: {t / u - 1:+.3f} "
                  f"({t:.3f} s traced vs {u:.3f} s untraced)")


if __name__ == "__main__":
    main()
