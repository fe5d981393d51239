#!/usr/bin/env python3
"""List main-code definitions that no main or flowbench code references.

  python3 tools/unreferenced_defs.py            # check against the allow-list
  python3 tools/unreferenced_defs.py --list     # print the current list only

Run from the repository root. Scans every `def` and `val` declared in
src/main/scala and counts the references to its name in src/main/scala
and flowbench/src, leaving out comments and the definition's own extent
(its line plus the more-indented lines that follow it, and a closing
brace at its indent). A name is reported when that count is zero.
Skipped: `implicit` definitions (encoders and conversions resolve without
their name), `override`s, `main`, `apply`/`unapply`/`update` and tuple
patterns. The match is by bare name, so a name shared by two definitions
counts the references of both: the report can miss a definition, never
invent one.

Each report line is `Owner.name  path:line`, where Owner is the enclosing
top-level object, class or trait. tools/unreferenced_allow.txt holds one
`Owner.name reason` per line (`#` starts a comment). The check exits 1
when a reported name is missing from the allow-list, and names allow-list
entries that are no longer reported so the list can shrink with the code.
"""

import os
import re
import sys
from collections import Counter

ROOT = os.getcwd()
MAIN = os.path.join(ROOT, "src", "main", "scala")
FLOW = os.path.join(ROOT, "flowbench", "src")
ALLOW = os.path.join(ROOT, "tools", "unreferenced_allow.txt")

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEFN = re.compile(r"\b(def|val)\s+([A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+"
    r"|case\s+|implicit\s+)*(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
SKIP_NAMES = {"main", "apply", "unapply", "unapplySeq", "update"}


def scala_files(root):
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def strip_comments(src):
    """`src` with comments blanked (newlines kept, so line numbers hold);
    string and character literals are kept as written."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2  # Scala block comments nest
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" ends at the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3) + 1
            out.append(src[i:j])
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def indent(line):
    return len(line) - len(line.lstrip())


def extent(lines, i):
    """Line indexes of the definition starting at line i."""
    k, j, span = indent(lines[i]), i + 1, [i]
    while j < len(lines) and (not lines[j].strip() or indent(lines[j]) > k):
        span.append(j)
        j += 1
    if j < len(lines) and indent(lines[j]) == k and lines[j].strip()[:1] in "})":
        span.append(j)
    return span


def report():
    """[(Owner.name, path:line)] of the unreferenced main definitions."""
    sources = {p: strip_comments(open(p, encoding="utf-8").read()).split("\n")
               for root in (MAIN, FLOW) for p in scala_files(root)}
    totals = Counter(t for lines in sources.values() for line in lines
                     for t in IDENT.findall(line))
    found = []
    for path, lines in sources.items():
        if not path.startswith(MAIN + os.sep):
            continue
        owner = "?"
        for i, line in enumerate(lines):
            m = OWNER.match(line)
            if m:
                owner = m.group(1)
            for d in DEFN.finditer(line):
                name, head = d.group(2), line[:d.start()]
                if (name in SKIP_NAMES or re.search(r"\b(implicit|override)\b", head)
                        or line[d.end():].lstrip().startswith("(") and d.group(1) == "val"):
                    continue
                own = sum(IDENT.findall(lines[j]).count(name) for j in extent(lines, i))
                if totals[name] - own <= 0:
                    found.append((f"{owner}.{name}",
                                  f"{os.path.relpath(path, ROOT)}:{i + 1}"))
    return sorted(set(found))


def allowed():
    names = {}
    for n, raw in enumerate(open(ALLOW, encoding="utf-8"), 1):
        line = raw.split("#", 1)[0].strip()
        if line:
            name, _, reason = line.partition(" ")
            if not reason.strip():
                sys.exit(f"{ALLOW}:{n}: entry {name} gives no reason")
            names[name] = reason.strip()
    return names


def main(argv):
    found = report()
    if "--list" in argv:
        for name, where in found:
            print(f"{name}  {where}")
        return 0
    allow = allowed()
    missing = [(n, w) for n, w in found if n not in allow]
    stale = sorted(set(allow) - {n for n, _ in found})
    for n, w in missing:
        print(f"UNREFERENCED {n}  {w}: give it a caller, move it to src/test, "
              f"delete it, or add it to tools/unreferenced_allow.txt with a reason")
    for n in stale:
        print(f"stale allow-list entry {n}: it is referenced now (or gone); drop the line")
    print(f"{len(found)} unreferenced definitions, {len(missing)} not in the allow-list, "
          f"{len(stale)} stale allow-list entries")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
