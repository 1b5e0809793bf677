#!/usr/bin/env python3
"""Compare two `Explain planmany` output directories plan by plan.

Usage: python3 tools/plandiff.py <dirA> <dirB>

Each directory holds one formatted plan per query (`<query>.txt`). Some
tokens in a formatted plan differ between two runs of the same commit:
expression ids (`#123`), `plan_id=`s, RDD ids (`RDD[45]`), the source
line of a checkpoint call site (`GraphOps.scala:421`) and object hash
suffixes (`@1a2b3c`). Before comparing, each kind is renumbered in
order of appearance within its file, so two plans compare equal when
they differ only in those ids.

Prints one line per query (EQUAL, DIFF with the first differing line,
or MISSING when only one directory has it) and exits 1 on any
difference.
"""
import os
import re
import sys

# one alternative per id kind; the group holds the number to renumber
ID_KINDS = [
    ("expr", r"(?<=#)(\d+)"),
    ("plan", r"(?<=plan_id=)(\d+)"),
    ("rdd", r"(?<=RDD\[)(\d+)(?=\])"),
    ("line", r"(?<=\.scala:)(\d+)"),
    ("hash", r"(?<=@)([0-9a-f]+)\b"),
]
PATTERN = re.compile("|".join(f"(?P<{k}>{p})" for k, p in ID_KINDS))


def normalize(text: str) -> str:
    """Replace every id by its order of first appearance, per kind."""
    seen = {k: {} for k, _ in ID_KINDS}

    def sub(m):
        ids = seen[m.lastgroup]
        return str(ids.setdefault(m.group(), len(ids)))

    return PATTERN.sub(sub, text)


def plans(d: str) -> dict:
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")}


def main(argv) -> int:
    if len(argv) != 3:
        print("usage: python3 tools/plandiff.py <dirA> <dirB>", file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    differ = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"MISSING {q} (only in {argv[1] if q in a else argv[2]})")
            differ += 1
            continue
        with open(a[q], encoding="utf-8") as fa, open(b[q], encoding="utf-8") as fb:
            la = normalize(fa.read()).splitlines()
            lb = normalize(fb.read()).splitlines()
        if la == lb:
            print(f"EQUAL {q}")
            continue
        differ += 1
        i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y), min(len(la), len(lb)))
        print(f"DIFF {q} line {i + 1}:")
        print(f"  < {la[i] if i < len(la) else '<end of file>'}")
        print(f"  > {lb[i] if i < len(lb) else '<end of file>'}")
    print(f"{len(set(a) | set(b)) - differ}/{len(set(a) | set(b))} plans equal")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
