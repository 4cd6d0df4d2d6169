#!/usr/bin/env python3
"""Name-based reach scan: which operator functions and parameters does
nothing use?

A function stays if a root reaches it: the SparkEntry rows
(graft/entry), the domain API (core, ingest, model, query, sources,
tools/CreateProject), Bench, Verify, ReplayProf, the SQL functions
(functions/GraftFunctions and the extension that injects them,
plans/GraftExtensions), the Spark shims and everything under
perfbench/src. Specs and the other mains under tools/ are not roots.

Every `def`/`val` is a symbol; its region runs from its line to the
next definition at the same or a shallower indent. A root file reaches
every identifier it mentions, a reached region reaches the identifiers
in its text, and the code of a file outside any region is reached with
the file's first reached region. An `override` member is reached, as
Spark calls it through its supertype. Matching is by NAME, so an overloaded
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

With --one-value it lists the default-valued parameters of reached
functions in the scanned packages that take one value only: every call
site (counted as for --params) passes the same argument text, where a
call that leaves the parameter out passes the default's text and an
argument that forwards the enclosing function's own default-valued
parameter passes whatever that parameter takes. Arguments are compared
as written in the source, comments dropped and whitespace collapsed, so
two string literals that differ are two values. A parameter that some
call passes through a name the scan cannot see (a function value, an
overload of another object) may still be listed.

Usage: python3 tools/reach.py [--params | --one-value] [ROOT]
Prints each unreached symbol (or parameter) in ext, streaming,
functions, operators and ranges as `file:line name [specs and tools
mains that mention it]`; --one-value prints `file:line name.param =
value  (default text)`.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import strip  # noqa: E402

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
PARAMS = "--params" in sys.argv[1:]
ONE_VALUE = "--one-value" in sys.argv[1:]
ROOT = ARGS[0] if ARGS else "."
MAIN = os.path.join(ROOT, "src/main/scala")
ROOTS = re.compile(r"graft/(entry/|core/|ingest/|model/|query/|sources/|"
                   r"tools/CreateProject|tools/ReplayProf|Bench\.|Verify\.|"
                   r"SparkEntry\.|functions/GraftFunctions|plans/GraftExtensions)|"
                   r"org/apache")
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
raws = {}  # file -> (source text, source index of each stripped character)
seeds = set()
for path in scala_files(MAIN):
    rel = os.path.relpath(path, MAIN)
    if "/tools/" in rel and not ROOTS.search(rel):
        continue  # probe mains: neither roots nor reachable
    raw, pos = open(path).read(), []
    code = strip(raw, pos)
    codes[rel] = code
    raws[rel] = (raw, pos)
    code = code.split("\n")
    if ROOTS.search(rel):
        seeds |= idents("\n".join(code))
    starts = [(i, len(m.group(1)), m.group(2))
              for i, m in ((i, DEF.match(l)) for i, l in enumerate(code)) if m]
    covered = set()
    for k, (i, ind, name) in enumerate(starts):
        if re.match(r"\s*(\S+\s+)*override\s", code[i]):
            seeds.add(name)  # Spark calls it through its supertype
        end = next((j for j, ind2, _ in starts[k + 1:] if ind2 <= ind), len(code))
        end = next((j for j in range(i + 1, end) if code[j].strip()
                    and len(code[j]) - len(code[j].lstrip()) < ind), end)
        regions.append((rel, name, i + 1, "\n".join(code[i:end])))
        covered |= set(range(i, end))
    outside[rel] = "\n".join(l for i, l in enumerate(code) if i not in covered)
perfbench = {}
for path in scala_files(os.path.join(ROOT, "perfbench/src")):
    raw, pos = open(path).read(), []
    perfbench[path] = strip(raw, pos)
    raws[path] = (raw, pos)
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


def part_spans(code, i, j):
    """The (start, end) of each top-level comma-separated, non-blank part
    of code[i:j]."""
    parts, depth, start = [], 0, i
    for k in range(i, j + 1):
        c = code[k] if k < j else ","
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            if code[start:k].strip():
                parts.append((start, k))
            start = k + 1
    return parts


LITERAL = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\])*"|' + r"'(?:\\.|[^'\\])'")


def source(key, i, j):
    """The source text behind the stripped characters [i, j) of a file,
    j being the delimiter after them: comments dropped, string literals
    kept as written, whitespace collapsed."""
    raw, pos = raws[key]
    t, out, k = raw[pos[i]:pos[j]], [], 0
    while k < len(t):
        m = LITERAL.match(t, k)
        if m:
            out.append(m.group())
            k = m.end()
        elif t.startswith("//", k) or t.startswith("/*", k):
            end = t.find("\n" if t[k + 1] == "/" else "*/", k + 2)
            k = len(t) if end < 0 else end + (t[k + 1] == "*") * 2
        else:
            out.append(t[k])
            k += 1
    return " ".join("".join(out).split())


def param_lists(code, i):
    """The `(...)` lists after code[i] (type-parameter lists skipped):
    one list of (name, default) per parameter list, and the end. A
    default is the (start, end) of its expression in code, or None."""
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
                for a, b in part_spans(code, i + 1, j):
                    m = PARAM.match(code[a:b])
                    if m:
                        d = DEFAULT.search(code[a:b])
                        ps.append((m.group(1), d and (a + d.end(), b)))
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
    targets = {}  # (file, name, param) -> (line, default's source text)
    for rel, line, name, _, lists, _ in defs:
        if SCANNED.search(rel):
            for ps in lists:
                for p, dflt in ps:
                    if dflt:
                        targets[(rel, name, p)] = (line, source(rel, *dflt))
    fields = {}  # field name -> case classes that have it
    for rel, _, name, _, lists, case in defs:
        if case and SCANNED.search(rel):
            for p, _ in lists[0]:
                fields.setdefault(p, []).append((rel, name))
    by = {}
    for d in defs:
        by.setdefault(d[2], []).append(d)

    # the text a call may come from: root files, perfbench, reached
    # regions, as (file or None, text, first line, source key, offset)
    texts = [(None, c, 1, path, 0) for path, c in perfbench.items()]
    for rel, code in codes.items():
        if ROOTS.search(rel):
            texts.append((rel, code, 1, rel, 0))
    starts = {rel: [0] + [k + 1 for k, c in enumerate(code) if c == "\n"]
              for rel, code in codes.items()}
    for rel, name, line, text in regions:
        if not ROOTS.search(rel) and name in reached:
            texts.append((rel, text, line, rel, starts[rel][line - 1]))

    passed = set()
    forwards = []  # (target key, enclosing target key)
    values = {}  # target key -> the argument texts calls pass it
    spans = {(r, l): l + t.count("\n") for r, _, l, t in regions}

    def enclosing(rel, line, ident):
        """The innermost def around line that has a parameter ident, or
        None."""
        around = [d for d in defs if d[0] == rel and d[1] <= line <= spans.get((rel, d[1]), 1 << 30)
                  and any(p == ident for ps in d[4] for p, _ in ps)]
        return max(around, key=lambda d: d[1]) if around else None

    for rel, text, first, src, off in texts:
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
                args = part_spans(text, i + 1, j)
                line = first - 1 + lineno(text, m.start())
                named = set()
                for k, (a0, a1) in enumerate(args):
                    a = text[a0:a1]
                    nm = re.match(r"^\s*([A-Za-z_]\w*)\s*=(?![=>])(.*)$", a, re.S)
                    expr = (nm.group(2) if nm else a).strip()
                    if nm:
                        named.add(nm.group(1))
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
                    # an argument that is an enclosing def's own parameter
                    # forwards what that parameter takes
                    d = enclosing(rel, line, expr) if rel and IDENT.fullmatch(expr) else None
                    fwd = d and (rel, d[2], expr)
                    if fwd not in targets or not any(p == expr and dd for ps in d[4] for p, dd in ps):
                        fwd = None
                    if d and fwd is None:
                        value = f"{expr}@{rel}:{d[1]}"
                    else:
                        value = re.sub(r"^[A-Za-z_]\w*\s*=\s*", "", source(src, off + a0, off + a1)) \
                            if nm else source(src, off + a0, off + a1)
                    for key in keys:
                        if fwd is None:
                            passed.add(key)
                            values.setdefault(key, set()).add(value)
                        else:
                            forwards.append((key, fwd))
                # a parameter this call leaves out takes its default
                if name != "copy":
                    for d in by[name]:
                        if li < len(d[4]):
                            for k, (p, dflt) in enumerate(d[4][li]):
                                key = (d[0], d[2], p)
                                if dflt and key in targets and k >= len(args) and p not in named:
                                    values.setdefault(key, set()).add(targets[key][1])
                li += 1
                i = skip_ws(text, j + 1)
    changed = True
    while changed:
        changed = False
        for key, src in forwards:
            if src in passed and key not in passed:
                passed.add(key)
                changed = True
            if not values.get(src, set()) <= values.get(key, set()):
                values.setdefault(key, set()).update(values[src])
                changed = True
    # case classes have no region of their own; their fields count as reached
    live = reached | {d[2] for d in defs if d[5]}
    for (rel, name, p), (line, dflt) in sorted(targets.items(), key=lambda kv: (kv[0][0], kv[1][0], kv[0][2])):
        if name not in live:
            continue
        if ONE_VALUE:
            if len(values.get((rel, name, p), ())) == 1:
                print(f"{rel}:{line} {name}.{p} = {next(iter(values[(rel, name, p)]))}  (default {dflt})")
        elif (rel, name, p) not in passed:
            print(f"{rel}:{line} {name}.{p}  [{users(p)}]")


if PARAMS or ONE_VALUE:
    scan_params()
else:
    for rel, name, line, _ in sorted(regions):
        if SCANNED.search(rel) and name not in reached:
            print(f"{rel}:{line} {name}  [{users(name)}]")
