#!/usr/bin/env python3
"""Compare two `graft.tools.Explain` dumps key by key.

    python3 tools/plandiff.py <before.txt> <after.txt>

Each dump is the stdout of `runMain graft.tools.Explain <sfDir> [key ...]`
(one `===== <key> =====` header per key, then its formatted physical
plan). Before comparing, every plan is normalised so that two runs of the
same code compare equal:

- expression ids `#123` and `plan_id=45`;
- RDD ids `MapPartitionsRDD[809]` and call sites `Pipelines27.scala:59`;
- object hash codes `UnsafeArrayData@3360fc16` and JVM lambda class
  names `Pipelines3$$$Lambda$8597/0x00007f6d19b42000`;
- the application-id suffix `local-1792580558800` in table and path names;
- lambda-variable suffixes `x_15`, `y_3`: the Column API names lambda
  variables from one JVM-wide counter (`UnresolvedNamedLambdaVariable`),
  so a helper that builds a lambda earlier or later shifts every later
  key's numbers without changing any plan.

Prints each key whose normalised plan differs (or that only one dump
has), with a unified diff of the first lines that differ, and exits 1
if there is any such key; exits 0 otherwise.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^={10,} (\S+) ={10,}$")  # Explain's key line, not "===== Subqueries ====="
RULES = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    (re.compile(r"\.scala:\d+"), ".scala:n"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@h"),
    (re.compile(r"local[-_]\d+"), "local_app"),
    (re.compile(r"\b([xy])_\d+\b"), r"\1_n"),
]
DIFF_LINES = 40


def normalise(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line


def read_plans(path):
    plans, key = {}, None
    with open(path) as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line.strip())
            if m:
                key = m.group(1)
                plans[key] = []
            elif key is not None:
                plans[key].append(normalise(line))
    return plans


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = read_plans(argv[1]), read_plans(argv[2])
    differ = []
    for key in sorted(before.keys() | after.keys()):
        if key not in before or key not in after:
            differ.append(key)
            print(f"{key}: only in {argv[1] if key in before else argv[2]}")
        elif before[key] != after[key]:
            differ.append(key)
            print(f"{key}: plan differs")
            diff = list(difflib.unified_diff(before[key], after[key],
                                             argv[1], argv[2], lineterm=""))
            print("\n".join(diff[:DIFF_LINES]))
    print(f"{len(differ)} of {len(before.keys() | after.keys())} keys differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
