#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of Scala sources — the code-size
measure ROADMAP aim 2 ("fewer lines of main code") is judged by, so that
deleted comments and blank lines never count as a reduction.

Line comments and (nested) block comments, scaladoc included, are
dropped; string literals are kept, so a `//` inside a string is code.

Usage: python3 tools/ncloc.py <file.scala or directory>...
  (prints per file + total; a directory counts every *.scala below it)
"""
import os
import sys


def code(src):
    """`src` with every comment removed; line breaks inside block comments
    are kept so line structure survives."""
    out, i, depth, string, n = [], 0, 0, None, len(src)
    while i < n:
        c = src[i]
        if depth:
            if src.startswith("*/", i):
                depth, i = depth - 1, i + 2
            elif src.startswith("/*", i):
                depth, i = depth + 1, i + 2
            else:
                out.append("\n" if c == "\n" else "")
                i += 1
        elif string:
            if string == '"' and c == "\\":
                out.append(src[i:i + 2])
                i += 2
            elif src.startswith(string, i):
                out.append(string)
                i, string = i + len(string), None
            else:
                out.append(c)
                i += 1
        elif src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
        elif src.startswith('"""', i) or c == '"':
            string = '"""' if src.startswith('"""', i) else '"'
            out.append(string)
            i += len(string)
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(paths):
    """Each named file, and every *.scala under each named directory, in
    sorted order."""
    for p in paths:
        if os.path.isdir(p):
            for d, subdirs, files in os.walk(p):
                subdirs.sort()
                for n in sorted(files):
                    if n.endswith(".scala"):
                        yield os.path.join(d, n)
        else:
            yield p


def main(paths):
    total = 0
    for p in scala_files(paths):
        with open(p, encoding="utf-8") as f:
            k = sum(1 for line in code(f.read()).split("\n") if line.strip())
        print(f"{k:6d} {p}")
        total += k
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
