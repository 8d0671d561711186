#!/usr/bin/env python3
"""Find src/main definitions that no code outside the tests calls.

Usage (from the repository root):

  python3 tools/orphans.py

Tokenises the Scala and Python sources under src/main, src/test,
perfbench/ and tools/ with comments stripped, so a name mentioned
only in a comment does not count as a caller. A `def`, `object`,
`class` or `trait` of src/main is an orphan when its name occurs
nowhere in src/main, perfbench/ or tools/ except in its own
definitions: either only src/test names it (test-only) or no file
names it at all (dead). `override` and `implicit`
definitions (called by the compiler, not by name) are skipped, and an
object that has a `def main` is an entry point and never an orphan.

Prints one orphan per line as `Owner.name` (or the type name for an
object/class/trait), dead ones marked `(named by no file)`, and exits
1 unless each printed name is in ALLOWED below.
"""
import io
import os
import re
import sys
import tokenize
from collections import Counter

ROOTS = ["src/main", "src/test", "perfbench", "tools"]
SELF = os.path.abspath(__file__)

# Test-only definitions that stay, each with the reason it stays.
ALLOWED = {
    "Codecs.Y4mCodec.encodeRgbFrames": "fixture encoder the codec specs decode",
    "Codecs.AviMjpegCodec.encodeJpegFrames": "fixture encoder the codec specs decode",
    "Codecs.ImageIoCodecs.GifCodec.frameCount": "container reference the codec specs compare against",
    "Cabac.engineRoundTrip": "round-trip reference for the CABAC engine specs",
    "CorpusQueries.entropyMicroHofCol": "parity reference for the codegen'd entropy kernel",
    "TextFunctions.charGrams3": "parity reference for the codegen'd char-gram kernel",
    "Similarity.momentFrames": "parity reference for the codegen'd moment kernel",
    "Similarity.momentFramesExplode": "parity reference for the codegen'd moment kernel",
    "KMeans.cost": "cost evaluator the KMeans specs measure with",
    "VideoPipeline": "public analog of the reference's run.sh",
    "PipelineConfig.fromYaml": "config entry of the run.sh analog",
    "PipelineConfig.fromMap": "config entry of the run.sh analog",
    "ObservedMetricsListener": "listener the pipeline metrics are to be surfaced through",
    "ObservedMetricsListener.totalInputRows": "listener the pipeline metrics are to be surfaced through",
    "InMemoryStore.committedCount": "what the sink specs read back from the fake store",
}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEFN = re.compile(r"\b(def|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
MODIFIERS = re.compile(
    r"(?:\b(?:override|implicit|private|protected|final|case|sealed|abstract|lazy)\b"
    r"(?:\[[^\]]*\])?\s*)*$")


def strip_scala(src):
    """Returns (code, shape): `code` is src without comments; `shape`
    also blanks string and char literals, for brace matching. Both keep
    the length and newlines of src."""
    code, shape = list(src), list(src)
    i, n = 0, len(src)

    def blank(buf, a, b):
        for k in range(a, b):
            if buf[k] != "\n":
                buf[k] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(code, i, j)
            blank(shape, i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(code, i, j)
            blank(shape, i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            blank(shape, i, j)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            blank(shape, i, j)
            i = j
        elif c == "'":
            m = CHAR.match(src, i)
            j = m.end() if m else i + 1
            blank(shape, i, j)
            i = j
        else:
            i += 1
    return "".join(code), "".join(shape)


def strip_python(src):
    out = []
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type != tokenize.COMMENT:
                out.append(tok.string)
    except (tokenize.TokenError, IndentationError, SyntaxError):
        return src
    return " ".join(out)


def sources(root):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in ("target", "project", "__pycache__")]
        for f in sorted(filenames):
            path = os.path.join(dirpath, f)
            # this script names the allowed orphans, which calls none of them
            if f.endswith((".scala", ".py")) and os.path.abspath(path) != SELF:
                yield path


def definitions(shape):
    """(name, owner, kind, skip) for each definition in one file; the
    owner is the dotted path of the enclosing objects/classes."""
    stack = []  # (owner name, brace depth inside its body)
    pending, depth, out = None, 0, []
    events = [(m.start(), m) for m in DEFN.finditer(shape)]
    events += [(k, ch) for k, ch in enumerate(shape) if ch in "{}"]
    events.sort(key=lambda e: e[0])
    for pos, ev in events:
        if ev == "{":
            depth += 1
            if pending is not None:
                stack.append((pending, depth))
                pending = None
        elif ev == "}":
            while stack and stack[-1][1] == depth:
                stack.pop()
            depth -= 1
        else:
            kind, name = ev.group(1), ev.group(2)
            line_start = shape.rfind("\n", 0, pos) + 1
            mods = MODIFIERS.search(shape[line_start:pos]).group(0)
            skip = "override" in mods or "implicit" in mods
            owner = ".".join(o for o, _ in stack) or None
            out.append((name, owner, kind, skip))
            pending = name if kind != "def" else None
    return out


def main():
    counts = {root: Counter() for root in ROOTS}
    defs = []  # (name, owner, kind, skip)
    mains = set()
    for root in ROOTS:
        for path in sources(root):
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if path.endswith(".scala"):
                code, shape = strip_scala(src)
            else:
                code, shape = strip_python(src), None
            counts[root].update(IDENT.findall(code))
            if root == "src/main" and shape is not None:
                found = definitions(shape)
                defs += found
                mains |= {o for (n, o, k, _) in found if n == "main" and k == "def"}

    defined = Counter(name for name, _, _, _ in defs)

    def callers(name):
        return sum(counts[r][name] for r in ("src/main", "perfbench", "tools"))

    orphans, dead = set(), set()
    for name, owner, kind, skip in defs:
        if skip or name == "main" or name in mains or owner in mains:
            continue
        if callers(name) == defined[name]:
            qual = name if kind != "def" or owner is None else f"{owner}.{name}"
            orphans.add(qual)
            if counts["src/test"][name] == 0:
                dead.add(qual)

    bad = sorted(o for o in orphans if o not in ALLOWED)
    for o in sorted(orphans):
        if o in dead:
            print(f"{o}  (named by no file)")
        else:
            print(o if o in bad else f"{o}  (allowed: {ALLOWED[o]})")
    if bad:
        print(f"{len(bad)} src/main definition(s) called by no code outside "
              "src/test", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
