#!/usr/bin/env python3
"""Compare two `graft.Plans` dumps query by query.

    python3 tools/plan_diff.py <dirA> <dirB>

Each dump directory holds one `<query>_<suffix>.txt` per query (the
suffix is the second argument of graft.Plans, so it may differ between
the two dirs). Before comparing, each plan is normalised for what varies
between runs of identical code:

  - expression ids `#123` and `plan_id=123`;
  - `TmpDirs.create` directories, `/tmp/<prefix><digits>`;
  - the fixed-path staging root, `/tmp/graft_stage-<user>/<pid>`;
  - JVM lambda class names, `$Lambda$<n>/0x<addr>@<hash>`;
  - source line numbers in RDD call sites, `<File>.scala:<line>`;
  - RDD ids, `<Name>RDD[<n>]`: one counter per SparkContext, so every
    later query's ids shift when an earlier query creates a different
    number of RDDs, even where its own plan is identical.

Prints every query whose normalised plan differs (or that only one dump
has), then a summary line. Exits 1 if any query differs, else 0.
"""
import difflib
import pathlib
import re
import sys

RULES = [
    (re.compile(r"/tmp/graft_stage-[^/\s]+/\d+"), "/tmp/graft_stage-USER/PID"),
    (re.compile(r"(/tmp/[^/\s\]),]*?)\d+(?=[/\s\]),]|$)", re.M), r"\1N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
]


def normalise(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def load(d):
    """query name -> normalised plan; strips the dump's shared suffix."""
    files = sorted(pathlib.Path(d).glob("*.txt"))
    if not files:
        raise SystemExit(f"plan_diff: no *.txt plans under {d}")
    stems = [f.stem for f in files]
    suffixes = {s.rsplit("_", 1)[-1] for s in stems}
    strip = len(suffixes) == 1 and all("_" in s for s in stems)
    return {(s.rsplit("_", 1)[0] if strip else s): normalise(f.read_text())
            for s, f in zip(stems, files)}


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    differing = []
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            differing.append(q)
            print(f"== {q}: only in {argv[1] if q in a else argv[2]}")
        elif a[q] != b[q]:
            differing.append(q)
            print(f"== {q}")
            sys.stdout.writelines(difflib.unified_diff(
                a[q].splitlines(True), b[q].splitlines(True),
                argv[1], argv[2], n=1))
    print(f"plan_diff: {len(differing)} of {len(a.keys() | b.keys())} queries differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
