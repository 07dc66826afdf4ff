#!/usr/bin/env python3
"""Count non-blank, non-comment source lines of the library: one line
per file under src/main/scala, then the total. A line counts unless it
is blank or, stripped, starts with `//`, `/*` or `*`.

Usage: python3 tools/sloc.py [checkout]   (default: this checkout)
"""
import os
import sys


def sloc(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(root, "src", "main", "scala")
    total = 0
    for d, _, files in sorted(os.walk(src)):
        for name in sorted(files):
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                n = sloc(p)
                total += n
                print(f"{n:7d}  {os.path.relpath(p, src)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
