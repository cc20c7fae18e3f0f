"""Builds perfbench/reference.json: per key, the row count, the output
digests seen, and the median wall and CPU seconds over full passes.

    python3 perfbench/reference.py --passes 3

Each pass runs every key of every workload once, in its own JVM, in a
seeded random order, with the same harness and settings as a benchmark
run. A key that yields more than one digest across passes is recorded
under `nondeterministic`; all its digests are accepted by the result
check, and the finding stays listed. Agreement with the DuckDB oracle
is recorded separately, in perfbench/oracle.json. `calibration_s` is the
median reading of the host calibration kernel over the passes.
"""
import argparse
import json
import os
import random
import statistics
import time

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=3)
    a = ap.parse_args()
    classpath = run.build.build()
    wls = run.load("workloads.json")["workloads"]
    keys = sorted(k for w in wls.values() for k in w["keys"])
    seen = {k: [] for k in keys}
    cal = []
    for p in range(a.passes):
        order = keys[:]
        random.Random(f"reference:{p}").shuffle(order)
        lines, _, _ = run.run_jvm(classpath, [order], 0, 0, f"reference-{p}", time.time() + 3600)
        for ln in lines:
            if ln[0] == "CAL":
                cal.append(float(ln[1]))
            if ln[0] == "KEY":
                k = run.Key(ln[1:])
                seen[k.key].append(k)
                if k.error:
                    print(f"pass {p}: {k.key} failed: {k.error}")
    out = {"sf": "0.1", "cores": run.cores(), "passes": a.passes, "keys": {},
           "nondeterministic": {}, "calibration_s": round(statistics.median(cal), 4)}
    for k, runs in seen.items():
        ok = [r for r in runs if not r.error]
        if not ok:
            continue
        digests = sorted({r.digest for r in ok})
        out["keys"][k] = {
            "rows": statistics.mode(r.rows for r in ok),
            "digests": digests,
            "wall_s": round(statistics.median(r.wall_s for r in ok), 4),
            "cpu_s": round(statistics.median(r.cpu_s for r in ok), 4),
        }
        if len(digests) > 1 or len({r.rows for r in ok}) > 1:
            out["nondeterministic"][k] = f"{len(digests)} digests over {len(ok)} passes"
    with open(os.path.join(run.HERE, "reference.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
