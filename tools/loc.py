#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of Scala sources.

Usage: python3 tools/loc.py [PATH ...]
       python3 tools/loc.py --self-test

A line counts unless, after its leading whitespace, it is empty or starts
with `//`, `/*` or `*` (the lines of a scaladoc or block comment). A line
with code before a trailing comment counts. A PATH that is a directory is
walked for `*.scala` files; with no PATH, `src/main/scala` is counted.

Prints one `<count>  <path>` line per file, then `<total>  total`.
"""
import os
import sys

COMMENT_STARTS = ("//", "/*", "*")


def counts(line: str) -> bool:
    s = line.strip()
    return bool(s) and not s.startswith(COMMENT_STARTS)


def count_text(text: str) -> int:
    return sum(1 for line in text.splitlines() if counts(line))


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                for n in sorted(names):
                    if n.endswith(".scala"):
                        yield os.path.join(root, n)
        else:
            yield p


SAMPLE = """package a

/** Doc line one
  * doc line two
  */
object A {
  // a comment
  val x = 1 // trailing comment: counts
  /* block */
  def f: Int = x
}
"""


def self_test() -> int:
    got = count_text(SAMPLE)
    # package, object, val, def, closing brace
    ok = got == 5 and counts("  x") and not counts("   ") and not counts(" * y")
    print("self-test", "ok" if ok else f"FAILED (sample counted {got}, want 5)")
    return 0 if ok else 1


def main(argv) -> int:
    if argv == ["--self-test"]:
        return self_test()
    total = 0
    for f in files(argv or ["src/main/scala"]):
        with open(f, encoding="utf-8") as fh:
            n = count_text(fh.read())
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
