#!/usr/bin/env python3
"""Count code lines of the Scala sources under src/main.

A code line is a non-blank line whose first non-space characters are not
`//`, `/*` or `*` (so scaladoc and block-comment bodies are excluded).
Code that follows a comment opener on the same line, or a trailing
comment after code, counts as one code line.

Usage: python3 tools/loc.py [root] [--files]
  root     directory to scan (default: src/main under the repo root)
  --files  also print the count of every file, largest first
"""
import os
import sys

COMMENT_PREFIXES = ("//", "/*", "*")


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(COMMENT_PREFIXES):
                n += 1
    return n


def main(argv):
    show_files = "--files" in argv
    args = [a for a in argv if a != "--files"]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = args[0] if args else os.path.join(repo, "src", "main")
    counts = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                counts[os.path.relpath(p, root)] = code_lines(p)
    if show_files:
        for p, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"{n:7d}  {p}")
    print(f"{sum(counts.values())} code lines in {len(counts)} files under {root}")


if __name__ == "__main__":
    main(sys.argv[1:])
