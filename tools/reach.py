#!/usr/bin/env python3
"""Name-based reach scan: which operator functions does nothing use?

A function stays if a root reaches it: the SparkEntry rows
(graft/entry), the domain API (core, ingest, model, query, sources,
tools/CreateProject), Bench, Verify, ReplayProf, the SQL functions
(functions/GraftFunctions, plans), the Spark shims and everything under
perfbench/src. Specs and the other mains under tools/ are not roots.

Every `def`/`val` is a symbol; its region runs from its line to the
next definition at the same or a shallower indent. A root file reaches
every identifier it mentions, a reached region reaches the identifiers
in its text, and the code of a file outside any region is reached with
the file's first reached region. Matching is by NAME, so an overloaded
or common name can keep a dead function alive: the result is a lower
bound on what is unreached. Comments are ignored (tools/loc.py's
stripper).

Usage: python3 tools/reach.py [ROOT]
Prints each unreached symbol in ext, streaming, functions, operators
and ranges as `file:line name [specs and probes that mention it]`.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import strip  # noqa: E402

ROOT = sys.argv[1] if len(sys.argv) > 1 else "."
MAIN = os.path.join(ROOT, "src/main/scala")
ROOTS = re.compile(r"graft/(entry/|core/|ingest/|model/|query/|sources/|"
                   r"tools/CreateProject|tools/ReplayProf|Bench\.|Verify\.|"
                   r"SparkEntry\.|functions/GraftFunctions|plans/)|org/apache")
SCANNED = re.compile(r"graft/(ext|streaming|functions|operators|ranges)/")
DEF = re.compile(r"^(\s*)(?:(?:private(?:\[\w+\])?|protected|override|final|"
                 r"implicit|lazy|@\w+)\s+)*(?:def|val|var)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")


def scala_files(base):
    for d, _, fs in os.walk(base):
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def idents(text):
    return set(IDENT.findall(text))


regions = []  # (file, name, line, text)
outside = {}  # file -> code outside every region
reached = set()
for path in scala_files(MAIN):
    rel = os.path.relpath(path, MAIN)
    if "/tools/" in rel and not ROOTS.search(rel):
        continue  # probe mains: neither roots nor reachable
    code = strip(open(path).read()).split("\n")
    if ROOTS.search(rel):
        reached |= idents("\n".join(code))
    starts = [(i, len(m.group(1)), m.group(2))
              for i, m in ((i, DEF.match(l)) for i, l in enumerate(code)) if m]
    covered = set()
    for k, (i, ind, name) in enumerate(starts):
        end = next((j for j, ind2, _ in starts[k + 1:] if ind2 <= ind), len(code))
        end = next((j for j in range(i + 1, end) if code[j].strip()
                    and len(code[j]) - len(code[j].lstrip()) < ind), end)
        regions.append((rel, name, i + 1, "\n".join(code[i:end])))
        covered |= set(range(i, end))
    outside[rel] = "\n".join(l for i, l in enumerate(code) if i not in covered)
for path in scala_files(os.path.join(ROOT, "perfbench/src")):
    reached |= idents(strip(open(path).read()))

byname = {}
for r in regions:
    byname.setdefault(r[1], []).append(r)
frontier, reached, files_reached = set(reached), set(), set()
while frontier:
    name = frontier.pop()
    if name in reached:
        continue
    reached.add(name)
    for rel, _, _, text in byname.get(name, []):
        new = idents(text)
        if rel not in files_reached:
            files_reached.add(rel)
            new |= idents(outside[rel])
        frontier |= new - reached

mentions = {}
for path in list(scala_files(os.path.join(ROOT, "src/test/scala"))) + [
        p for p in scala_files(MAIN) if "/tools/" in p
        and not ROOTS.search(os.path.relpath(p, MAIN))]:
    mentions[os.path.basename(path)] = idents(strip(open(path).read()))
for rel, name, line, _ in sorted(regions):
    if SCANNED.search(rel) and name not in reached:
        users = sorted(f for f, ids in mentions.items() if name in ids)
        print(f"{rel}:{line} {name}  [{', '.join(users) or '-'}]")
