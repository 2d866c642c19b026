#!/usr/bin/env python3
"""Name-level audit of the library's public surface: list each public `def`
in src/main whose name appears in no other src/main file, and say where
else the name appears (its own file, src/test, perfbench/src, or nowhere).
A def whose own file does not use it either is reached by no src/main code
at all; one its own file uses is reached, but could be private.

A def is public when neither it nor an enclosing class, object or trait is
`private` or `protected`, it is not an `override`, and it is a member of a
template rather than local to a method or block. Names are matched as
whole words in the code of the other files, with comments and string
literals removed, so overloads and common names can hide callers or invent
them; a listed name is a lead to read, not a verdict.

    python3 dev/unreached.py            # this checkout
    python3 dev/unreached.py <repo>     # another checkout
"""
import os
import re
import sys

# string literals (triple-quoted first), char literals and comments; each is
# replaced by blanks that keep its newlines, so line numbers survive
NOISE = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')
TOKEN = re.compile(r"[{}]|\b(?:class|object|trait|def|val|var|new|private|protected|override)\b"
                   r"|[A-Za-z_][A-Za-z0-9_]*")
ENTRY = {"main"}


def code_of(text):
    """`text` with comments and string literals blanked out."""
    return NOISE.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)


def public_defs(code):
    """(line, name) of each public member def in one file's code."""
    out = []
    stack = []           # per open brace: (is_template, is_private)
    pending = (False, False)
    modifiers = set()    # modifiers seen since the last declaration keyword
    tokens = list(TOKEN.finditer(code))
    for i, m in enumerate(tokens):
        t = m.group(0)
        if t in ("private", "protected", "override"):
            modifiers.add(t)
        elif t in ("class", "object", "trait"):
            pending, modifiers = (True, bool(modifiers & {"private", "protected"})), set()
        elif t in ("val", "var", "new"):
            pending, modifiers = (False, False), set()
        elif t == "def":
            name = tokens[i + 1].group(0) if i + 1 < len(tokens) else ""
            member = all(tpl for tpl, _ in stack) and not any(p for _, p in stack)
            if member and not modifiers and name not in ENTRY and re.match(r"[A-Za-z_]", name):
                out.append((code.count("\n", 0, m.start()) + 1, name))
            pending, modifiers = (False, False), set()
        elif t == "{":
            stack.append(pending)
            pending, modifiers = (False, False), set()
        elif t == "}":
            if stack:
                stack.pop()
    return out


def scala_files(root):
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def read_code(paths):
    out = {}
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            out[p] = code_of(fh.read())
    return out


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    main_code = read_code(scala_files(os.path.join(repo, "src", "main", "scala")))
    others = {
        "src/test": read_code(scala_files(os.path.join(repo, "src", "test", "scala"))),
        "perfbench": read_code(scala_files(os.path.join(repo, "perfbench", "src"))),
    }
    rows = []
    for path, code in sorted(main_code.items()):
        for line, name in public_defs(code):
            word = re.compile(r"\b%s\b" % re.escape(name))
            if any(word.search(c) for p, c in main_code.items() if p != path):
                continue
            own = ["own file"] if len(word.findall(code)) > 1 else []
            seen = own + [k for k, files in others.items() if any(word.search(c) for c in files.values())]
            rows.append((os.path.relpath(path, repo), line, name, ", ".join(seen) or "nowhere"))
    for path, line, name, seen in rows:
        print(f"{path}:{line} {name} (also in: {seen})")
    unused = sum(1 for r in rows if not r[3].startswith("own file"))
    print(f"{len(rows)} public defs named in no other src/main file; "
          f"{unused} of them unused in their own file too")


if __name__ == "__main__":
    main()
