"""Benchmark of the graft Spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload social_sql --seed 1 --seconds 45 --trace 0

Builds the program and the harness (perfbench/build.py), starts one
fresh JVM that sets up a `local[<cores>]` session over the sf0.1
fixtures in perfbench/data, and runs the workload's timed keys (listed
in perfbench/workloads.json) once each, one at a time, through
`SparkEntry.queries`: a closed loop with one client. Each key's timed
action is a row count plus an order-independent digest of every output
column, checked against perfbench/reference.json.

The seed fixes the order of the keys: they are ranked by reference wall
time, cut into blocks of ROUNDS keys, and round r takes the r-th key
of every seed-shuffled block, so each round spans the range of key
costs. The heap still in use is measured after the last round. A
fixed CPU and memory kernel that does not touch the program
(harness/Calibrate.scala) is timed before the first round and after each
round; its median is reported as `jvm.calibration_s`, a reading of how
fast the host ran during the run. A run whose reading is more than
HOST_TOLERANCE away from the reference host's (reference.json) prints a
warning that its times are not comparable.
A round that would start after `--seconds` is not run, and its keys
count as failed. perfbench/reference.py runs every key of every
workload's partition.

`--trace 1` alternates traced and untraced keys (T U U T) and prints
the per-layer metrics; otherwise the end-to-end metrics. The last
stdout line is one JSON object with `correct`, `attempted`, `failed`
and `metrics`. Each run works in its own scratch root under
.bench_run/, deleted at the end; spans go to .bench_out/.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
RUN_ROOT = os.path.join(ROOT, ".bench_run")
OUT_DIR = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170
ROUNDS = 4
HOST_TOLERANCE = 0.25
HEAP = "4g"


def load(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def cores():
    return len(os.sched_getaffinity(0))


def stratified_rounds(keys, ref, seed, workload):
    """Rounds of keys: round r holds the r-th key of every block of
    ROUNDS keys ranked by reference wall time."""
    rng = random.Random(f"{workload}:{seed}")
    ranked = sorted(keys, key=lambda k: (ref[k]["wall_s"], k))
    blocks = [ranked[i:i + ROUNDS] for i in range(0, len(ranked), ROUNDS)]
    for b in blocks:
        rng.shuffle(b)
    rounds = []
    for r in range(ROUNDS):
        rnd = [b[r] for b in blocks if r < len(b)]
        rng.shuffle(rnd)
        rounds.append(rnd)
    return rounds


def java_cmd(classpath, *args, props=()):
    return (["java"] + build.ADD_OPENS +
            [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            list(props) + ["-cp", ":".join(classpath)] + list(args))


def run_jvm(classpath, rounds, seconds, trace, run_id, deadline):
    """Runs the harness JVM in a fresh scratch root. Returns the parsed
    result lines and the sinks left behind."""
    root = os.path.join(RUN_ROOT, f"{run_id}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "local", "sink", "warehouse"):
        os.makedirs(os.path.join(root, d))
    os.makedirs(OUT_DIR, exist_ok=True)
    rounds_file = os.path.join(root, "rounds.txt")
    with open(rounds_file, "w") as fh:
        fh.write("".join(" ".join(r) + "\n" for r in rounds))
    out_file = os.path.join(root, "result.tsv")
    log_file = os.path.join(root, "jvm.log")
    spans = os.path.join(OUT_DIR, f"spans_{run_id}.jsonl")
    args = ["perfbench.Runner", "run", f"sf={DATA}", f"root={root}", f"cpus={cores()}",
            f"seconds={seconds}", f"trace={trace}", f"rounds={rounds_file}",
            f"out={out_file}", f"spans={spans}", f"run={run_id}",
            f"launch_ms={int(time.time() * 1000)}"]
    cmd = java_cmd(classpath, *args, props=[f"-Djava.io.tmpdir={root}/tmp"])
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                raise SystemExit("run: the JVM did not finish in time")
            finally:  # also on SIGTERM, which main turns into SystemExit
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(out_file):
            with open(log_file) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"run: the JVM exited with code {code}")
        with open(out_file) as fh:
            lines = [ln.rstrip("\n").split("\t") for ln in fh if ln.strip()]
        sinks = {"disk_mb": 0.0, "files": 0}
        for d in ("tmp", "sink", "warehouse"):
            for dirpath, _, files in os.walk(os.path.join(root, d)):
                for f in files:
                    p = os.path.join(dirpath, f)
                    if not os.path.islink(p):
                        sinks["disk_mb"] += os.path.getsize(p) / 1048576
                        sinks["files"] += 1
        # The working directory must hold nothing but what the harness wrote.
        stray = sorted(set(os.listdir(root)) -
                       {"tmp", "local", "sink", "warehouse", "rounds.txt", "result.tsv", "jvm.log"})
        return lines, sinks, stray
    finally:
        shutil.rmtree(root, ignore_errors=True)


class Key:
    FIELDS = ("round", "key", "traced", "build_s", "plan_s", "action_s", "wall_s", "cpu_s",
              "rows", "digest", "compile_ms", "sources", "error")

    def __init__(self, f):
        f = f + [""] * (len(self.FIELDS) - len(f))
        for name, v in zip(self.FIELDS, f):
            setattr(self, name, v)
        for name in ("build_s", "plan_s", "action_s", "wall_s", "cpu_s", "compile_ms"):
            setattr(self, name, float(getattr(self, name)))
        self.round = int(self.round)
        self.traced = self.traced == "1"
        self.rows = int(self.rows)
        self.sources = int(self.sources)


def check(keys, reference, divergent):
    """Returns {key: reason} for every key whose run failed, whose output
    differs from the reference, or which diverges from the DuckDB oracle."""
    bad = {}
    for k in keys:
        ref = reference["keys"].get(k.key)
        if k.error:
            bad[k.key] = "error: " + k.error
        elif ref is None:
            bad[k.key] = "no reference"
        elif k.rows != ref["rows"]:
            bad[k.key] = f"rows {k.rows} != reference {ref['rows']}"
        elif k.digest not in ref["digests"]:
            bad[k.key] = f"digest {k.digest} not in reference {ref['digests']}"
        elif k.key in divergent:
            bad[k.key] = "diverges from the DuckDB oracle: " + divergent[k.key]
    return bad


def percentile(values, pct):
    """Harrell-Davis estimate of the `pct` percentile: a Beta-weighted
    mean of all order statistics, much steadier than one order statistic
    when there are a few dozen values."""
    xs = sorted(values)
    n = len(xs)
    a, b = pct / 100 * (n + 1), (1 - pct / 100) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def cdf(x, steps=400):  # regularized incomplete beta, midpoint rule
        h = x / steps
        return h * sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t) - log_beta)
                       for t in ((i + 0.5) * h for i in range(steps)))

    c = [0.0] + [cdf(i / n) for i in range(1, n)] + [1.0]
    return sum((c[i + 1] - c[i]) * x for i, x in enumerate(xs))


def calibration(rows_by_tag):
    return statistics.median(float(r[1]) for r in rows_by_tag["CAL"])


def end_to_end(keys, rows_by_tag):
    return {
        "setup_s": (float(rows_by_tag["SETUP"][0][1]), "s"),
        "total_s": (sum(k.wall_s for k in keys), "s"),
        "query_p50_s": (percentile([k.wall_s for k in keys], 50), "s"),
        "cpu_s": (sum(k.cpu_s for k in keys), "s"),
        "heap_retained_mb": (float(rows_by_tag["HEAP"][0][1]), "MB"),
    }


LAYER_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                "in_bytes", "in_rows", "sh_write", "sh_read", "spill", "out_bytes",
                "out_rows", "peak_mem")
SHAPES = ("scans", "exchanges", "reused_exchanges", "smj", "bhj", "shj", "bnlj", "windows",
          "keyless_windows", "sorts", "topk_nodes", "graft_in_join")
STREAMS = ("queries", "batches", "batch_s", "input_rows", "state_rows", "state_commit_ms")
MB = 1048576


def per_layer(keys, rows_by_tag, ref, sinks, ncores):
    """Per-layer metrics of the traced keys, and the self-check problems."""
    traced = [k for k in keys if k.traced]
    untraced = [k for k in keys if not k.traced]
    layers = {}
    for r in rows_by_tag["LAYER"]:
        layers[(r[1], r[2])] = dict(zip(LAYER_FIELDS, map(int, r[3:])))

    def phase_sum(phase, field):  # "#probe:..." owners are the functions probe
        return sum(v[field] for (o, p), v in layers.items()
                   if p == phase and not o.startswith("#"))

    def phase_max(phase, field):
        return max([v[field] for (o, p), v in layers.items()
                    if p == phase and not o.startswith("#")] or [0])

    action_s = sum(k.action_s for k in traced)
    m = {
        "ops.build_s": (sum(k.build_s for k in traced), "s"),
        "ops.build_jobs": (phase_sum("build", "jobs"), "count"),
        "ops.build_cpu_s": (phase_sum("build", "cpu_ns") / 1e9, "s"),
        "ops.retained_mb": (float(rows_by_tag["RETAINED"][0][1]), "MB"),
        "plans.plan_s": (sum(k.plan_s for k in traced), "s"),
    }
    shape_tot = dict.fromkeys(SHAPES, 0)
    for r in rows_by_tag.get("SHAPE", []):
        for name, v in zip(SHAPES, r[2:]):
            shape_tot[name] += int(v)
    m.update({f"plans.{n}": (v, "count") for n, v in shape_tot.items()})
    m["codegen.compile_ms"] = (sum(k.compile_ms for k in traced), "ms")
    m["codegen.sources"] = (sum(k.sources for k in traced), "count")
    run_s = phase_sum("action", "run_ms") / 1e3
    m.update({
        "exec.action_s": (action_s, "s"),
        "exec.jobs": (phase_sum("action", "jobs"), "count"),
        "exec.stages": (phase_sum("action", "stages"), "count"),
        "exec.tasks": (phase_sum("action", "tasks"), "count"),
        "exec.task_run_s": (run_s, "s"),
        "exec.task_cpu_s": (phase_sum("action", "cpu_ns") / 1e9, "s"),
        "exec.busy_frac": (run_s / (action_s * ncores) if action_s else 0.0, "ratio"),
        "exec.gc_s": (phase_sum("action", "gc_ms") / 1e3, "s"),
        "exec.input_mb": (phase_sum("action", "in_bytes") / MB, "MB"),
        "exec.input_rows": (phase_sum("action", "in_rows"), "count"),
        "exec.shuffle_write_mb": (phase_sum("action", "sh_write") / MB, "MB"),
        "exec.shuffle_read_mb": (phase_sum("action", "sh_read") / MB, "MB"),
        "exec.spill_mb": (phase_sum("action", "spill") / MB, "MB"),
        "exec.peak_task_mem_mb": (phase_max("action", "peak_mem") / MB, "MB"),
        "exec.output_mb": (phase_sum("action", "out_bytes") / MB, "MB"),
        "exec.output_rows": (phase_sum("action", "out_rows"), "count"),
        "exec.failed_tasks": (phase_sum("action", "failed_tasks"), "count"),
    })
    for r in rows_by_tag.get("FUNC", []):
        m["functions." + r[1]] = (float(r[2]), r[1].split("_per_")[0].split("_")[-1] + "/s")
    stream = dict.fromkeys(STREAMS, 0.0)
    for r in rows_by_tag.get("STREAM", []):
        if not r[1].startswith("#"):
            for name, v in zip(STREAMS, r[2:]):
                stream[name] += float(v)
    m.update({f"streaming.{n}": (v, "s" if n == "batch_s" else "ms" if n.endswith("_ms")
                                 else "count") for n, v in stream.items()})
    m["sinks.disk_mb"] = (sinks["disk_mb"], "MB")
    m["sinks.files"] = (sinks["files"], "count")
    jvm = rows_by_tag["JVM"][0]
    m["jvm.gc_s"] = (float(jvm[1]), "s")
    m["jvm.jit_ms"] = (float(jvm[2]), "ms")
    m["jvm.calibration_s"] = (calibration(rows_by_tag), "s")

    def norm(ks):
        return sum(k.wall_s for k in ks) / sum(ref[k.key]["wall_s"] for k in ks)

    m["trace.overhead"] = (norm(traced) / norm(untraced) if traced and untraced else 0.0, "ratio")
    m["trace.keys"] = (len(traced), "count")

    problems = []
    total = rows_by_tag["TOTAL"][0]
    unattributed = int(rows_by_tag["UNATTRIBUTED"][0][1])
    m["trace.unattributed_jobs"] = (unattributed, "count")
    sums = {f: sum(v[f] for v in layers.values()) for f in ("jobs", "tasks", "cpu_ns")}
    for f, t in zip(("jobs", "tasks", "cpu_ns"), map(int, (total[1], total[3], total[4]))):
        if sums[f] != t:
            problems.append(f"per-key {f} add up to {sums[f]}, the listener saw {t}")
    if unattributed:
        problems.append(f"{unattributed} jobs charged to no key")
    return m, problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    wls = load("workloads.json")
    reference = load("reference.json")
    if a.workload not in wls["workloads"]:
        raise SystemExit(f"run: unknown workload {a.workload}")
    wl = wls["workloads"][a.workload]
    ref = reference["keys"]
    keys_run = wl["timed"]
    rounds = stratified_rounds(keys_run, ref, a.seed, a.workload)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    lines, sinks, stray = run_jvm(classpath, rounds, a.seconds, a.trace, run_id, deadline)

    rows_by_tag = {}
    for ln in lines:
        rows_by_tag.setdefault(ln[0], []).append(ln)
    keys = [Key(r[1:]) for r in rows_by_tag["KEY"]]
    for k in keys:
        print(f"key {k.round} {k.key} {k.wall_s:.4f} s")
    bad = check(keys, reference, load("oracle.json")["divergent"])
    done = {k.key for k in keys}
    for k in keys_run:
        if k not in done:
            bad[k] = f"not reached within {a.seconds:g} s"
    for k in sorted(bad):
        print(f"FAILED {k}: {bad[k]}")
    if stray:
        print(f"FAILED the run left files in its working directory: {stray}")
    correct = not bad and not stray

    if a.trace:
        metrics, problems = per_layer(keys, rows_by_tag, ref, sinks, cores())
        for p in problems:
            print("TRACE CHECK FAILED " + p)
        correct = correct and not problems
    else:
        metrics = end_to_end(keys, rows_by_tag)
    for name, (v, unit) in metrics.items():
        print(f"{name} = {v:.6g} {unit}")
    # Too few keys for a steady tail: printed, not a benchmark metric.
    print(f"query_tail_s (p{wl['tail_pct']}) = "
          f"{percentile([k.wall_s for k in keys], wl['tail_pct']):.6g} s")
    cal, cal_ref = calibration(rows_by_tag), reference["calibration_s"]
    print(f"calibration = {cal:.4f} s (reference host {cal_ref:.4f} s)")
    if abs(cal / cal_ref - 1) > HOST_TOLERANCE:
        print(f"HOST NOT COMPARABLE: the calibration kernel ran {cal / cal_ref:.2f}x its "
              "reference time, so this run's times do not compare with runs on the reference host")
    errors = sum(1 for k in keys if k.error)
    print(f"failed_frac = {len(bad) / len(keys_run):.4f} ratio ({errors} threw, "
          f"{len(bad) - errors} mismatched or not reached, of {len(keys_run)} keys)")
    print(json.dumps({
        "correct": correct, "attempted": len(keys_run), "failed": len(bad),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
