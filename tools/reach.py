#!/usr/bin/env python3
"""Name-based reach scan: which operator functions and parameters does
nothing use?

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

With --params the scan lists, instead, the default-valued parameters
of the `def`s and classes (config-object fields included) in the
scanned packages that no reached code passes. A call site is any
`name(` or `new Name(` in a root file, in perfbench/src or in a reached
region; it passes the parameters it names and as many leading ones as
it has positional arguments (`copy(f = ...)` passes field `f` of every
case class). An argument that only forwards an enclosing function's own
unpassed default-valued parameter of the same name passes nothing. This
is name-based too, so the list is a lower bound on the parameters
nothing sets.

Usage: python3 tools/reach.py [--params] [ROOT]
Prints each unreached symbol (or parameter) in ext, streaming,
functions, operators and ranges as `file:line name [specs and probes
that mention it]`.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import strip, top_level_split  # noqa: E402

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
PARAMS = "--params" in sys.argv[1:]
ROOT = ARGS[0] if ARGS else "."
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
codes = {}  # file -> stripped code, for every file that may be reached
seeds = set()
for path in scala_files(MAIN):
    rel = os.path.relpath(path, MAIN)
    if "/tools/" in rel and not ROOTS.search(rel):
        continue  # probe mains: neither roots nor reachable
    code = strip(open(path).read())
    codes[rel] = code
    code = code.split("\n")
    if ROOTS.search(rel):
        seeds |= idents("\n".join(code))
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
perfbench = {}
for path in scala_files(os.path.join(ROOT, "perfbench/src")):
    perfbench[path] = strip(open(path).read())
    seeds |= idents(perfbench[path])

byname = {}
for r in regions:
    byname.setdefault(r[1], []).append(r)
frontier, reached, files_reached = set(seeds), set(), set()
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


def users(name):
    return ", ".join(sorted(f for f, ids in mentions.items() if name in ids)) or "-"


def closing(code, i):
    """Index of the bracket that closes the one at code[i]."""
    depth = 0
    for j in range(i, len(code)):
        if code[j] in "([{":
            depth += 1
        elif code[j] in ")]}":
            depth -= 1
            if depth == 0:
                return j
    return len(code)


def skip_ws(code, i):
    while i < len(code) and code[i] in " \t\n":
        i += 1
    return i


PARAM = re.compile(r"^\s*(?:(?:@\w+|implicit|private(?:\[\w+\])?|protected|"
                   r"override|final|val|var)\s+)*([A-Za-z_]\w*)\s*:")
DEFAULT = re.compile(r"(?<![=<>!])=(?![>=])")


def param_lists(code, i):
    """The `(...)` lists after code[i] (type-parameter lists skipped):
    one list of (name, has_default) per parameter list, and the end."""
    lists = []
    while True:
        i = skip_ws(code, i)
        m = re.match(r"(private|protected)(\[\w+\])?", code[i:])
        if m:
            i += m.end()
            continue
        if i < len(code) and code[i] in "([":
            j = closing(code, i)
            if code[i] == "(":
                ps = []
                for p in top_level_split(code[i + 1:j]):
                    m = PARAM.match(p)
                    if m:
                        ps.append((m.group(1), bool(DEFAULT.search(p))))
                lists.append(ps)
            i = j + 1
            continue
        return lists, i


def lineno(code, i):
    return code.count("\n", 0, i) + 1


def scan_params():
    # every def/class with parameters, in every file that may be reached
    defs = []  # (file, line, name, start, lists, is_case_class)
    for rel, code in codes.items():
        for m in re.finditer(r"\b(def|class)\s+([A-Za-z_]\w*)", code):
            lists, _ = param_lists(code, m.end())
            if lists:
                case = m.group(1) == "class" and code[max(0, m.start() - 5):m.start()] == "case "
                defs.append((rel, lineno(code, m.start()), m.group(2), m.start(), lists, case))
    targets = {}  # (file, name, param) -> line, for default params in scanned files
    for rel, line, name, _, lists, _ in defs:
        if SCANNED.search(rel):
            for ps in lists:
                for p, dflt in ps:
                    if dflt:
                        targets[(rel, name, p)] = line
    fields = {}  # field name -> case classes that have it
    for rel, _, name, _, lists, case in defs:
        if case and SCANNED.search(rel):
            for p, _ in lists[0]:
                fields.setdefault(p, []).append((rel, name))
    by = {}
    for d in defs:
        by.setdefault(d[2], []).append(d)

    # the text a call may come from: root files, perfbench, reached regions
    texts = [(None, c) for c in perfbench.values()]
    for rel, code in codes.items():
        if ROOTS.search(rel):
            texts.append((rel, code))
    for rel, name, line, text in regions:
        if not ROOTS.search(rel) and name in reached:
            texts.append((rel, text, line))

    passed = set()
    forwards = []  # (target key, enclosing target key)
    spans = {(r, l): l + t.count("\n") for r, _, l, t in regions}

    def enclosing(rel, line, ident):
        """The target key of ident when the innermost def around line that
        has a parameter ident gives it a default; else None."""
        around = [d for d in defs if d[0] == rel and d[1] <= line <= spans.get((rel, d[1]), 1 << 30)
                  and any(p == ident for ps in d[4] for p, _ in ps)]
        if not around:
            return None
        d = max(around, key=lambda d: d[1])
        key = (rel, d[2], ident)
        return key if key in targets and any(p == ident and dd for ps in d[4] for p, dd in ps) else None

    for entry in texts:
        rel, text = entry[0], entry[1]
        base = entry[2] - 1 if len(entry) > 2 else 0
        for m in re.finditer(r"\b([A-Za-z_]\w*)\s*(?=[\[(])", text):
            name = m.group(1)
            if name not in by and name != "copy":
                continue
            if re.search(r"\b(def|class|trait|object)\s+$", text[max(0, m.start() - 20):m.start()]):
                continue
            i = skip_ws(text, m.end())
            if text[i] == "[":
                i = skip_ws(text, closing(text, i) + 1)
            li = 0
            while i < len(text) and text[i] == "(":
                j = closing(text, i)
                args = top_level_split(text[i + 1:j])
                line = base + lineno(text, m.start())
                for k, a in enumerate(args):
                    nm = re.match(r"^\s*([A-Za-z_]\w*)\s*=(?![=>])(.*)$", a, re.S)
                    expr = (nm.group(2) if nm else a).strip()
                    if name == "copy":
                        keys = [(r, n, nm.group(1)) for r, n in fields.get(nm.group(1), [])] if nm else []
                    else:
                        keys = []
                        for d in by[name]:
                            if li < len(d[4]):
                                ps = d[4][li]
                                p = nm.group(1) if nm else (ps[k][0] if k < len(ps) else None)
                                if p is not None and (d[0], d[2], p) in targets:
                                    keys.append((d[0], d[2], p))
                    if not keys:
                        continue
                    fwd = enclosing(rel, line, expr) if rel and IDENT.fullmatch(expr) else None
                    for key in keys:
                        if fwd is None:
                            passed.add(key)
                        else:
                            forwards.append((key, fwd))
                li += 1
                i = skip_ws(text, j + 1)
    changed = True
    while changed:
        changed = False
        for key, src in forwards:
            if src in passed and key not in passed:
                passed.add(key)
                changed = True
    # case classes have no region of their own; their fields count as reached
    live = reached | {d[2] for d in defs if d[5]}
    for (rel, name, p), line in sorted(targets.items(), key=lambda kv: (kv[0][0], kv[1], kv[0][2])):
        if (rel, name, p) not in passed and name in live:
            print(f"{rel}:{line} {name}.{p}  [{users(p)}]")


if PARAMS:
    scan_params()
else:
    for rel, name, line, _ in sorted(regions):
        if SCANNED.search(rel) and name not in reached:
            print(f"{rel}:{line} {name}  [{users(name)}]")
