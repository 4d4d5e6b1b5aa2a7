#!/usr/bin/env python3
"""Line and lifecycle-definition counts for the Scala sources.

Usage: python3 tools/loc.py [root]      (default root: src/main)

Prints one row per .scala file under `root` and a total row:
  code       non-blank lines that are not comments
  comment    lines inside // or /* */ comments (doc comments included)
  blank      empty or whitespace-only lines
  lifecycle  definitions named def (write|append|delete|compact|vacuum|
             merge|ensure|stage|commit)...
The total row also reports how many DISTINCT lifecycle names exist, so
the per-kind copies of one lifecycle show up as repeated names.
A line with code and a trailing comment counts as code.
"""
import os
import re
import sys

LIFECYCLE = re.compile(
    r"\bdef\s+((?:write|append|delete|compact|vacuum|merge|ensure|stage|"
    r"commit)\w*)")


def classify(lines):
    code = comment = blank = 0
    in_block = False
    for raw in lines:
        s = raw.strip()
        if not s:
            blank += 1
            continue
        has_code = False
        while s:
            if in_block:
                end = s.find("*/")
                if end < 0:
                    s = ""
                else:
                    in_block = False
                    s = s[end + 2:].strip()
            elif s.startswith("//"):
                s = ""
            elif s.startswith("/*"):
                in_block = True
                s = s[2:]
            else:
                has_code = True
                s = ""
        if has_code:
            code += 1
        else:
            comment += 1
    return code, comment, blank


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    rows = []
    names = set()
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            defs = LIFECYCLE.findall(text)
            names.update(defs)
            rows.append((os.path.relpath(path, root),
                         *classify(text.splitlines()), len(defs)))
    rows.sort()
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'file':<{width}} {'code':>7} {'comment':>8} {'blank':>6} "
          f"{'lifecycle':>9}")
    for r in rows:
        print(f"{r[0]:<{width}} {r[1]:>7} {r[2]:>8} {r[3]:>6} {r[4]:>9}")
    tot = [sum(r[i] for r in rows) for i in range(1, 5)]
    print(f"{'total':<{width}} {tot[0]:>7} {tot[1]:>8} {tot[2]:>6} "
          f"{tot[3]:>9}")
    print(f"distinct lifecycle names: {len(names)}")


if __name__ == "__main__":
    main()
