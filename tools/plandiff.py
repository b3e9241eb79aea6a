#!/usr/bin/env python3
"""Normalize and diff `graft.Explain` physical-plan dumps.

    plandiff.py split LOG OUTDIR TAG   one OUTDIR/<query>_TAG.txt per
                                       "===== <query> =====" section of LOG
    plandiff.py A B                    diff two dumps
    plandiff.py DIR                    diff every <q>_before.txt /
                                       <q>_after.txt pair in DIR

Normalization masks what differs between two runs of the same plan:
expression ids (`#123`), generated lambda-variable names, operator and
codegen-stage ids, AQE query-stage ids (concurrent stages number in
finish order), `plan_id`s and the directory part of scanned file
locations. Exit status 1 on any difference, so a structural refactor
can assert "no plan changed".
"""
import difflib
import os
import re
import sys

LOCATION = (re.compile(r"file:[^\],\s]*/([^/\],\s]+)"), r"file:.../\1")
MASKS = [
    LOCATION,
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"^\(\d+\)", re.M), "(N)"),
    (re.compile(r" \(\d+\)(?=\s|$)", re.M), " (N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"operator id(:| =) \d+"), r"operator id\1 N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Subquery:\d+"), "Subquery:N"),
    (re.compile(r"lambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"(QueryStage\n(?:Output .*\n)?Arguments: )\d+"), r"\1N"),
]


def normalize(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines()


def split(log, outdir, tag):
    os.makedirs(outdir, exist_ok=True)
    name, body = None, []

    def flush():
        if name:
            pat, rep = LOCATION
            with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
                f.write(pat.sub(rep, "".join(body)).rstrip() + "\n")

    for line in open(log):
        m = re.match(r"^===== (\S+) =====$", line.rstrip())
        if m:
            flush()
            name, body = m.group(1), []
        elif name and not re.match(r"^\[(info|warn|success|error)\]", line):
            body.append(line)
    flush()


def diff(a, b):
    lines = list(difflib.unified_diff(
        normalize(open(a).read()), normalize(open(b).read()), a, b, lineterm=""))
    print("\n".join(lines) if lines else f"same: {os.path.basename(a)}")
    return bool(lines)


def main(argv):
    if argv[:1] == ["split"] and len(argv) == 4:
        split(*argv[1:])
        return 0
    if len(argv) == 2:
        return int(diff(*argv))
    if len(argv) == 1 and os.path.isdir(argv[0]):
        d = argv[0]
        befores = sorted(f for f in os.listdir(d) if f.endswith("_before.txt"))
        changed = [f for f in befores if diff(
            os.path.join(d, f), os.path.join(d, f[:-len("_before.txt")] + "_after.txt"))]
        print(f"{len(befores) - len(changed)} same, {len(changed)} differ")
        return int(bool(changed))
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
