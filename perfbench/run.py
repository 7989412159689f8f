"""One benchmark run of spark-graft: builds the program and the benchmark from
source, generates the seeded inputs, runs one workload closed-loop on Spark
`local[nproc]`, checks every output and prints one JSON result line.

    python3 perfbench/run.py --workload offline-train --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer ones (a separate, traced run). See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = build.BUILD_DIR
HEAP = "3g"
SETUPS = 3
JVM_TIMEOUT_S = 150  # a run must end within 180 s
LAMBDA = 0.05  # StreamOps.interestStream's default F9 blend rate

OFFLINE_TRAIN = ["q86_mf_gd_training", "q32_item_cf"]

# untimed warm-up rounds and timed rounds per run. The JIT is still warming
# after one round: on the reference host an offline-train round took 10-15%
# less time in its third round than in its second, and a stream round of
# three micro-batches 10-30% less, so both warm up for two rounds.
# stream-replay's log of 12 micro-batches is split into its 4 rounds.
WORKLOADS = {
    "offline-train": dict(ops=OFFLINE_TRAIN, warmup=2, rounds=3),
    "stream-replay": dict(ops=None, warmup=2, rounds=2),
}
# per-trainer metrics (`rec.q86.*`, `rec.q32.*`) on offline-train
REC_OPS = {name.split("_")[0]: name for name in OFFLINE_TRAIN}

END_TO_END = {"setup_s": "s", "wall_s": "s", "queries_per_s": "1/s",
              "events_per_s": "1/s", "latency_p50_ms": "ms",
              "cpu_s": "s", "heap_mb": "MB"}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cpus():
    return len(os.sched_getaffinity(0))


def med(xs):
    return statistics.median(xs) if xs else 0.0


def inputs(seed):
    """Generate the seed's inputs once per checkout (untimed)."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD_DIR, "data", f"seed-{seed}-{version}")
    done = os.path.join(d, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed)
        open(done, "w").close()
    return os.path.abspath(d)


def run_jvm(classpath, workload, data, out, w, trace):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS + [
        "-cp", classpath, "perfbench.Main", "--workload", workload,
        "--data", data, "--out", out, "--cpus", str(cpus()),
        "--warmup", str(w["warmup"]), "--rounds", str(w["rounds"]),
        "--setups", str(SETUPS), "--trace", str(trace),
        "--idle-ms", str(gen.IDLE_HORIZON_MS)]
    if w["ops"]:
        cmd += ["--ops", ",".join(w["ops"])]
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: the benchmark JVM ran over {JVM_TIMEOUT_S} s "
                     "and was stopped")
    for line in open(log, errors="replace"):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        sys.exit(f"perfbench: the benchmark JVM exited with {rc}")
    return json.load(open(os.path.join(out, "raw.json")))


def fastest(per_round):
    """{op: fastest record} over rounds of {op: record}: each operation's
    time is its fastest timed round, as in graft.Bench's min-of-2, so a
    burst of host load in one round does not move it."""
    best = {}
    for ops in per_round:
        for name, o in ops.items():
            if name not in best or o["wall_s"] < best[name]["wall_s"]:
                best[name] = o
    return list(best.values())


def batch_result(raw, warmup, bad, lineitem_rows):
    """End-to-end figures over each operation's fastest timed round, and
    per-layer figures as medians over rounds; only operations that
    succeeded and passed their checks count."""
    timed = [r for r in raw["rounds"] if r["round"] >= warmup]
    attempted = failed = 0
    rounds = []
    for r in timed:
        ok = [o for o in r["ops"] if o["ok"] and o["name"] not in bad]
        attempted += len(r["ops"])
        failed += len(r["ops"]) - len(ok)
        rounds.append(ok)
    best = fastest([{o["name"]: o for o in ok} for ok in rounds])
    wall = sum(o["wall_s"] for o in best)
    samples = [o["wall_s"] * 1e3 for o in best]
    e2e = dict(
        wall_s=wall,
        queries_per_s=len(best) / wall if wall else 0.0,
        # the ratings fact's rows over the round's time: on offline-train a
        # restatement of wall_s, which every run must report
        events_per_s=lineitem_rows / wall if wall else 0.0,
        latency_p50_ms=med(samples),
        cpu_s=sum(o["cpu_s"] for o in best))

    def per_round(key):
        return med([sum(o[key] for o in ok) for ok in rounds])
    layers = {
        "engine.jobs": per_round("jobs"), "engine.stages": per_round("stages"),
        "engine.gap_s": per_round("gap_s"), "engine.tasks": per_round("tasks"),
        "engine.task_run_s": per_round("task_run_s"),
        "engine.gc_s": per_round("gc_s"),
        "shuffle.read_mb": per_round("shuffle_read_mb"),
        "shuffle.write_mb": per_round("shuffle_write_mb"),
        "spill.mb": per_round("spill_mb"), "io.input_mb": per_round("input_mb"),
        "io.input_rows": per_round("input_rows"),
        "queries.call_s": per_round("call_s"),
        "queries.action_s": per_round("action_s"),
        "queries.result_rows": per_round("result_rows")}
    for short, name in REC_OPS.items():
        for key, field in (("wall_s", "wall_s"), ("jobs", "jobs"),
                           ("cpu_s", "cpu_s"), ("shuffle_write_mb", "shuffle_write_mb")):
            layers[f"rec.{short}.{key}"] = med(
                [o[field] for ok in rounds for o in ok if o["name"] == name])
    return attempted, failed, e2e, layers


def stream_result(raw, warmup, failed_check):
    """End-to-end figures of the fastest timed round, latency over every
    timed micro-batch, per-layer figures as medians over rounds; a failed
    output check fails every batch."""
    timed = [r for r in raw["rounds"] if r["round"] >= warmup]
    attempted = sum(len(r["batches"]) for r in timed)
    rounds, samples = [], []
    for r in ([] if failed_check else timed):
        ok = [b for b in r["batches"] if b["ok"]]
        busy = sum(b["wall_s"] for b in ok)
        samples += [b["wall_s"] * 1e3 for b in ok]
        rounds.append(dict(r=r, busy=busy, n=len(ok),
                           events=sum(b["events"] for b in ok)))
    failed = attempted - sum(x["n"] for x in rounds)
    best = min((x for x in rounds if x["busy"]), key=lambda x: x["busy"], default=None)
    e2e = dict(
        wall_s=best["r"]["wall_s"] if best else 0.0,
        queries_per_s=best["n"] / best["busy"] if best else 0.0,
        events_per_s=best["events"] / best["busy"] if best else 0.0,
        latency_p50_ms=med(samples),
        cpu_s=best["r"]["cpu_s"] if best else 0.0)

    def per_round(key):
        return med([x["r"][key] for x in rounds])

    def stream(key, agg=None):
        vals = [x["r"]["stream"][key] for x in rounds]
        return med([v for vs in vals for v in vs]) if agg == "each" else med(vals)
    layers = {
        "engine.jobs": per_round("jobs"), "engine.stages": per_round("stages"),
        "engine.gap_s": per_round("gap_s"), "engine.tasks": per_round("tasks"),
        "engine.task_run_s": per_round("task_run_s"),
        "engine.gc_s": per_round("gc_s"),
        "shuffle.read_mb": per_round("shuffle_read_mb"),
        "shuffle.write_mb": per_round("shuffle_write_mb"),
        "spill.mb": per_round("spill_mb"), "io.input_mb": per_round("input_mb"),
        "io.input_rows": per_round("input_rows"),
        "stream.plan_ms": stream("plan_ms", "each"),
        "stream.add_batch_ms": stream("add_batch_ms", "each"),
        "stream.commit_ms": stream("commit_ms", "each"),
        "stream.serve_ms": stream("serve_ms", "each"),
        "stream.state_rows": stream("state_rows"),
        "stream.state_updated": stream("state_updated"),
        "stream.state_removed": stream("state_removed"),
        "stream.state_mb": stream("state_mb"),
        "stream.state_commit_ms": stream("state_commit_ms", "each"),
        "stream.batches": stream("batches")}
    return attempted, failed, e2e, layers


def per_layer_units():
    """Every per-layer metric name with its unit, as `--trace 1` prints
    them (BENCHMARK.json lists the same names)."""
    units = {"engine.jobs": "count", "engine.stages": "count", "engine.gap_s": "s",
             "engine.tasks": "count", "engine.task_run_s": "s", "engine.gc_s": "s",
             "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "spill.mb": "MB",
             "io.input_mb": "MB", "io.input_rows": "count",
             "io.setup_input_mb": "MB", "io.setup_input_rows": "count",
             "setup.cold_s": "s",
             "queries.call_s": "s", "queries.action_s": "s",
             "queries.result_rows": "count", "trace.wall_s": "s"}
    for q in REC_OPS:
        units.update({f"rec.{q}.wall_s": "s", f"rec.{q}.jobs": "count",
                      f"rec.{q}.cpu_s": "s", f"rec.{q}.shuffle_write_mb": "MB"})
    units.update({"stream.plan_ms": "ms", "stream.add_batch_ms": "ms",
                  "stream.commit_ms": "ms", "stream.serve_ms": "ms",
                  "stream.state_rows": "count", "stream.state_updated": "count",
                  "stream.state_removed": "count", "stream.state_mb": "MB",
                  "stream.state_commit_ms": "ms", "stream.batches": "count"})
    return units


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted for the harness; every run is a fixed "
                         "number of whole rounds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    classpath = build.build(".")
    data = inputs(a.seed)
    out = os.path.abspath(os.path.join(
        BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    raw = run_jvm(classpath, a.workload, data, out, w, a.trace)

    # an operation that throws or fails its check is failed; one whose
    # output is wrong also makes the run's result incorrect
    if w["ops"]:
        bad, wrong = check.oracle(data, out, w["ops"])
        wrong |= {o["name"] for r in raw["rounds"] for o in r["ops"] if o["wrong"]}
        attempted, failed, e2e, layers = batch_result(
            raw, w["warmup"], bad, gen.SIZES["lineitem"])
    else:
        expected, recent = check.expected_stream(data, LAMBDA, gen.IDLE_HORIZON_MS)
        got = json.load(open(os.path.join(out, "stream_replay.json")))
        err = check.stream_replay(got, expected, recent)
        bad = {"replay": err} if err else {}
        wrong = set(bad)
        attempted, failed, e2e, layers = stream_result(raw, w["warmup"], bool(err))
    for k, v in sorted(bad.items(), key=str):
        sys.stderr.write(f"[perfbench] check failed: {k}: {v}\n")

    if a.trace:
        units = per_layer_units()
        layers["io.setup_input_mb"] = raw["setup_input_mb"]
        layers["io.setup_input_rows"] = raw["setup_input_rows"]
        layers["setup.cold_s"] = raw["setup_s"][0]
        layers["trace.wall_s"] = e2e["wall_s"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        sys.stderr.write("[perfbench] self time per span (s, timed rounds): " +
                         json.dumps({k: round(v, 4) for k, v in
                                     sorted(raw["self_s"].items())}) + "\n")
    else:
        e2e["setup_s"] = med(raw["setup_s"])
        e2e["heap_mb"] = raw["heap_mb"]
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    if a.trace:
        sys.stderr.write(f"[perfbench] spans and raw record kept in {out}\n")
    else:
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": not wrong and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
