#!/usr/bin/env python3
"""Name-level audit of the library's public surface, and its gate: list each
public `def` in src/main that no other src/main file reaches, say where else
its name appears (its own file, src/test, perfbench/src, or nowhere), and
fail unless every def that no src/main code uses at all is a SURVIVOR below
and no def is named in its own file only (make such a def private).

A def is public when neither it nor an enclosing class, object or trait is
`private` or `protected`, it is not an `override`, and it is a member of a
template rather than local to a method or block. Another src/main file
reaches it when its code names the def as a whole word and, for a member of
an `object`, also names that object (so `NetCDFGranules.readGranules` does
not hide an unreached `GranuleManifest.readGranules`). Comments and string
literals are not code, except that `.name(` inside a string literal counts
as a call: generated Java calls its kernels that way
(`$kernel.wordGrams(...)`). A def whose own file uses it is reached but
could be private; one its own file does not use either is reached by no
src/main code, and must be listed in SURVIVORS with the reason it stays.
A def that only its own file names (no other src/main file, no spec, no
perfbench) is an unlisted own-file-only def: narrow it to `private`. Names
that generated code calls (`.name(` in a string literal) stay public.
Names are matched, not resolved, so overloads can hide callers or invent
them; a listed name is a lead to read, not a verdict.

    python3 dev/unreached.py            # this checkout; exit 1 on any
                                        # unlisted def or stale survivor
    python3 dev/unreached.py <repo>     # another checkout
"""
import os
import re
import sys

# `Object.def` -> why it stays although no src/main code calls it. The front
# doors are the SparkEntry queries, RunJob, CorpusJob, ClimatologyJob,
# RepairJob, ingestQueue and CorpusIngest.gate.
SURVIVORS = {
    "SparkEntry.entry": "the flagship query entry point an external harness smoke-checks (rows > 0)",
    "MicroBatchIngest.ingestQueue": "front door: the streaming queue loop (perfbench queue_backfill, Probe queue)",
    "Pipeline.regionSummary": "perfbench operator probe; retired with its probe by the next benchmark change",
    "Pipeline.maskPixelsOnRegionGrid": "perfbench operators.mask_s probe; retired with it by the next benchmark change",
    "Pipeline.sessionizePerGranule": "perfbench operators.sessionize_s probe; retired with it by the next benchmark change",
    "TargetCatalog.associate": "perfbench operator probe; retired with its probe by the next benchmark change",
    "LinearInterp.buildKernels": "perfbench operators.interp_kernels_s probe; retired with it by the next benchmark change",
    "NetCDFGranules.writeGranuleH5": "the HDF5 granule writer: perfbench and Probe write their input granules with it",
    "NetCDFGranules.writeGranule": "the classic-NetCDF granule writer, the netcdf3 reader's round-trip partner",
    "NetCDFGranules.writeSifGranuleH5": "the SIF granule writer, readSifSequences' round-trip partner",
    "LmScore.compactModel": "compact (sorted-array) n-gram model for broadcast at deploy scale; the jobs broadcast the map form",
    "LmScore.compactDsirModel": "compact form of the DSIR importance model, as compactModel",
    "CorpusIngest.gate": "front door: the streaming corpus gate (a streaming frame in, gated frame out)",
    "CorpusIngest.mergeBandFlags": "sink-side collapse of the per-band near-dup flags a streaming gate emits",
    "PointInPolygon.apply": "Column form of the point-in-polygon kernel: perfbench's mask probe calls it",
    "GeoTiff.decode": "the GeoTIFF reader, encode's round-trip partner: specs read COG exports back through it",
    "GeoTiff.levelCount": "overview count of a GeoTIFF, read alongside decode",
}

# string literals (triple-quoted first), char literals and comments; each is
# replaced by blanks that keep its newlines, so line numbers survive
NOISE = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')
STRING = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"')
CALL_IN_STRING = re.compile(r"\.([A-Za-z_][A-Za-z0-9_]*)\(")
TOKEN = re.compile(r"[{}]|\b(?:class|object|trait|extends|def|val|var|new|private|protected|override)\b"
                   r"|[A-Za-z_][A-Za-z0-9_]*")
ENTRY = {"main"}


def code_of(text):
    """`text` with comments and string literals blanked out."""
    return NOISE.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)


def string_calls(text):
    """Names called as `.name(` inside the string literals of `text`."""
    # comments first, so a quote inside a comment opens no literal
    text = re.sub(r"//[^\n]*|/\*[\s\S]*?\*/", "", text)
    return {c for s in STRING.findall(text) for c in CALL_IN_STRING.findall(s)}


def public_defs(code):
    """(line, name, enclosing object or None) of each public member def in
    one file's code."""
    out = []
    stack = []           # per open brace: (is_template, is_private, object name or None)
    pending = (False, False, None)
    modifiers = set()    # modifiers seen since the last declaration keyword
    tokens = list(TOKEN.finditer(code))
    for i, m in enumerate(tokens):
        t = m.group(0)
        if t in ("private", "protected", "override"):
            modifiers.add(t)
        elif t in ("class", "object", "trait"):
            name = tokens[i + 1].group(0) if t == "object" and i + 1 < len(tokens) else None
            pending, modifiers = (True, bool(modifiers & {"private", "protected"}), name), set()
        elif t == "extends":
            # an object that implements a parent's members is called through
            # the parent's type, which need not name the object
            pending = (pending[0], pending[1], None)
        elif t in ("val", "var", "new"):
            pending, modifiers = (False, False, None), set()
        elif t == "def":
            name = tokens[i + 1].group(0) if i + 1 < len(tokens) else ""
            member = all(tpl for tpl, _, _ in stack) and not any(p for _, p, _ in stack)
            if member and not modifiers and name not in ENTRY and re.match(r"[A-Za-z_]", name):
                owner = stack[-1][2] if stack else None
                out.append((code.count("\n", 0, m.start()) + 1, name, owner))
            pending, modifiers = (False, False, None), set()
        elif t == "{":
            stack.append(pending)
            pending, modifiers = (False, False, None), set()
        elif t == "}":
            if stack:
                stack.pop()
    return out


def scala_files(root):
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def read_sources(paths):
    out = {}
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            out[p] = fh.read()
    return out


def words(name):
    return re.compile(r"\b%s\b" % re.escape(name))


def calls(name, owner):
    """Whether a file's code calls `name` of `owner` (None: of no object).
    `Owner(...)` calls `Owner.apply`."""
    word = words(name)
    if owner is None:
        return word.search
    named = words(owner)
    applied = re.compile(r"\b%s\s*[(\[]" % re.escape(owner))
    if name == "apply":
        return lambda c: applied.search(c) or (word.search(c) and named.search(c))
    return lambda c: word.search(c) and named.search(c)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    main_src = read_sources(scala_files(os.path.join(repo, "src", "main", "scala")))
    main_code = {p: code_of(t) for p, t in main_src.items()}
    codegen_calls = set().union(*(string_calls(t) for t in main_src.values()))
    others = {
        "src/test": [code_of(t) for t in read_sources(scala_files(os.path.join(repo, "src", "test", "scala"))).values()],
        "perfbench": [code_of(t) for t in read_sources(scala_files(os.path.join(repo, "perfbench", "src"))).values()],
    }
    rows = []
    for path, code in sorted(main_code.items()):
        for line, name, owner in public_defs(code):
            if name in codegen_calls:
                continue
            word, called = words(name), calls(name, owner)
            if any(called(c) for p, c in main_code.items() if p != path):
                continue
            own = len(word.findall(code)) > 1
            seen = (["own file"] if own else []) + [k for k, files in others.items() if any(word.search(c) for c in files)]
            key = f"{owner}.{name}" if owner else name
            rows.append((os.path.relpath(path, repo), line, key, ", ".join(seen) or "nowhere", own))
    unreached = [r for r in rows if not r[4]]
    survivors = [r for r in unreached if r[2] in SURVIVORS]
    own_only = [r for r in rows if r[3] == "own file"]
    unlisted = [r for r in unreached if r[2] not in SURVIVORS] + own_only
    stale = sorted(set(SURVIVORS) - {r[2] for r in unreached})
    for path, line, key, seen, own in rows:
        if not own:
            tag = f" [survivor: {SURVIVORS[key]}]" if key in SURVIVORS else " [UNLISTED]"
        else:
            tag = " [UNLISTED: own file only, make it private]" if seen == "own file" else ""
        print(f"{path}:{line} {key} (also in: {seen}){tag}")
    for key in stale:
        print(f"stale survivor: {key} (src/main reaches it, or it is gone)")
    print(f"{len(rows)} public defs reached from no other src/main file; "
          f"{len(rows) - len(unreached)} of them used in their own file; "
          f"{len(unreached)} unused there too, {len(survivors)} of them survivors; "
          f"{len(own_only)} named in their own file only; {len(stale)} stale survivors")
    print(f"{len(unlisted)} unlisted")
    return 1 if unlisted or stale else 0


if __name__ == "__main__":
    sys.exit(main())
