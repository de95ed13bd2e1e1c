#!/usr/bin/env python3
"""Line counter for the Scala sources.

Prints, per path, all lines (as `wc -l`) and code lines: lines that are
non-blank and not inside a `//` line comment, a `/* */` block comment,
or a `*`-continued comment line.

Usage: python3 tools/loc.py [PATH ...]   (default: src/main)
A directory counts every `.scala` file below it.
"""
import os
import sys


def count(text):
    """(all lines, code lines) of one Scala source."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    code = 0
    in_block = False
    for line in lines:
        s = line.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                continue
            in_block = False
            s = s[end + 2:].strip()
        if not s or s.startswith("//") or s.startswith("*"):
            continue
        if s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            s = s[end + 2:].strip()
            if not s or s.startswith("//"):
                continue
        code += 1
    return len(lines), code


def files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def main(paths):
    for path in paths or ["src/main"]:
        total = code = 0
        for f in files(path):
            with open(f, encoding="utf-8") as fh:
                a, c = count(fh.read())
            total += a
            code += c
        print(f"{path}\t{total:,} lines\t{code:,} code")


if __name__ == "__main__":
    main(sys.argv[1:])
