#!/usr/bin/env python3
"""Count Scala code lines under src/main: blank lines and comment lines
(`//` lines and the lines of `/* ... */` blocks, scaladoc included) are left
out. Prints the total and one line per package directory.

    python3 dev/loc.py            # this checkout
    python3 dev/loc.py <repo>     # another checkout
"""
import os
import sys
from collections import Counter


def code_lines(text):
    """Lines of `text` holding code. A line counts when some character of it
    lies outside a comment; string literals are not parsed, so a `/*` or
    `//` inside a string is read as a comment opener."""
    n = 0
    in_block = False
    for line in text.splitlines():
        i, has_code = 0, False
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    break
                in_block, i = False, end + 2
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block, i = True, i + 2
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        n += has_code
    return n


def main():
    root = os.path.join(sys.argv[1] if len(sys.argv) > 1 else ".", "src", "main", "scala")
    per_pkg = Counter()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    per_pkg[os.path.relpath(d, root).replace(os.sep, ".")] += code_lines(fh.read())
    print(f"total {sum(per_pkg.values())}")
    for pkg, n in sorted(per_pkg.items()):
        print(f"{pkg} {n}")


if __name__ == "__main__":
    main()
