#!/usr/bin/env python3
"""Count code lines in the Scala sources.

A code line is any line with something left after removing `//` comments,
`/* ... */` blocks (scaladoc included) and whitespace. String literals are
respected, so a "/*" inside a string does not open a comment.

Usage: python3 tools/loc.py [--totals] [root]
Prints `<lines>  <path>` for every .scala file under src/main and src/test
(unless --totals), then one total per tree.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    in_triple = False
    for line in text.splitlines():
        has_code = in_triple
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block, i = False, end + 2
                continue
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    i = len(line)
                else:
                    in_triple, i = False, end + 3
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                in_block, i = True, i + 2
                continue
            c = line[i]
            if not c.isspace():
                has_code = True
            if line.startswith('"""', i):
                in_triple, i = True, i + 3
            elif c == '"':
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 3  # char literal such as '"'
            elif line.startswith("'\\", i):
                end = line.find("'", i + 2)
                i = len(line) if end < 0 else end + 1
            else:
                i += 1
        if has_code:
            n += 1
    return n


def main(argv):
    totals_only = "--totals" in argv
    args = [a for a in argv if a != "--totals"]
    root = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    for tree in ("src/main", "src/test"):
        total = 0
        base = os.path.join(root, tree)
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if not f.endswith(".scala"):
                    continue
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    n = code_lines(fh.read())
                total += n
                if not totals_only:
                    print(f"{n:6d}  {os.path.relpath(path, root)}")
        print(f"{total:6d}  total {tree}")


if __name__ == "__main__":
    main(sys.argv[1:])
