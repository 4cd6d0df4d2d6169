#!/usr/bin/env python3
"""Comment-aware size report for Scala/Java sources.

Counts, per file and per directory, the lines that hold code and the
lines that hold only comments. A blank line, a `//` line and a line
inside `/* ... */` are not code; a line with code and a trailing
comment is code. String literals (plain, triple-quoted, interpolated
with nested `${...}`) are code, so a multi-line SQL string counts and
`"s3://x"` is not a comment.
It also counts `sys.env` sites and default-valued parameters of
`def`s and class constructors.

Usage:
  python3 tools/loc.py [--against DIR] [--files] [PATH ...]

PATH defaults to src/main. With --against DIR the same relative paths
are counted under DIR (for example an exported copy of the parent
commit) and each line shows before, after and the difference. --files
adds a line per file; without it only directories are listed.
"""
import argparse
import os
import re
import sys

EXTS = (".scala", ".java")


def strip(text, pos=None):
    """Return text with comments removed and each string character
    replaced by `x`; newlines are kept, so lines still line up. A list
    passed as `pos` receives, for each returned character, the index in
    `text` it stands for."""
    out = []

    def emit(piece):
        out.append(piece)
        if pos is not None:
            pos.extend([i] * len(piece))
    # stack of modes: ("code", braceDepth) or ("str", triple, interp)
    stack = [["code", 0]]
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        top = stack[-1]
        if top[0] == "code":
            if text.startswith("//", i):
                j = text.find("\n", i)
                i = n if j < 0 else j
                continue
            if text.startswith("/*", i):
                depth, i = 1, i + 2
                while i < n and depth:
                    if text.startswith("/*", i):
                        depth, i = depth + 1, i + 2
                    elif text.startswith("*/", i):
                        depth, i = depth - 1, i + 2
                    else:
                        if text[i] == "\n":
                            emit("\n")
                        i += 1
                continue
            if c == '"':
                interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
                triple = text.startswith('"""', i)
                stack.append(["str", triple, interp])
                emit('""')
                i += 3 if triple else 1
                continue
            if c == "'":
                m = re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'", text[i:i + 8])
                if m:
                    emit("' '")
                    i += m.end()
                    continue
            if c == "{":
                top[1] += 1
            elif c == "}":
                if top[1] == 0 and len(stack) > 1:
                    stack.pop()  # end of ${...}: back in the string
                    i += 1
                    continue
                top[1] -= 1
            emit(c)
            i += 1
        else:
            _, triple, interp = top
            if triple and text.startswith('"""', i):
                while text.startswith('""""', i):  # """a"""" ends on the last three
                    i += 1
                stack.pop()
                i += 3
                continue
            if not triple and c == "\\":
                emit("x")
                i += 2
                continue
            if not triple and c == '"':
                stack.pop()
                i += 1
                continue
            if interp and text.startswith("${", i):
                stack.append(["code", 0])
                i += 2
                continue
            if interp and text.startswith("$$", i):
                i += 2
                continue
            # string content is code: keep a neutral mark in its place
            emit("\n" if c == "\n" else "x")
            i += 1
    return "".join(out)


def default_params(code):
    """Parameters with a default value, in every parameter list that
    follows `def name[...]` or `class Name[...]`."""
    count = 0
    for m in re.finditer(r"\b(def|class)\s+[^\s(\[:=]+", code):
        i = m.end()
        while True:
            while i < len(code) and code[i] in " \t\n":
                i += 1
            m2 = re.match(r"(private|protected)(\[\w+\])?", code[i:])
            if m2:  # `class C private (...)`: the parameters follow
                i += m2.end()
                continue
            if i < len(code) and code[i] in "([":
                depth, j = 0, i
                while j < len(code):
                    if code[j] in "([{":
                        depth += 1
                    elif code[j] in ")]}":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                if code[i] == "(":
                    count += sum(1 for p in top_level_split(code[i + 1:j])
                                 if re.search(r"(?<![=<>!])=(?![>=])", p) and ":" in p)
                i = j + 1
                continue
            break
    return count


def top_level_split(s):
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return [p for p in parts if p.strip()]


def count_file(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        text = f.read()
    code = strip(text)
    raw_lines, code_lines = text.split("\n"), code.split("\n")
    c = k = 0
    for raw, stripped in zip(raw_lines, code_lines):
        if stripped.strip():
            c += 1
        elif raw.strip():
            k += 1
    return {"code": c, "comment": k,
            "sys.env": len(re.findall(r"\bsys\.env\b", code)),
            "defaults": default_params(code)}


def walk(root, rel):
    base = os.path.join(root, rel)
    if os.path.isfile(base):
        return {rel: count_file(base)}
    found = {}
    for d, _, files in os.walk(base):
        for f in files:
            if f.endswith(EXTS):
                p = os.path.join(d, f)
                found[os.path.relpath(p, root)] = count_file(p)
    return found


KEYS = ("code", "comment", "sys.env", "defaults")


def totals(files):
    dirs = {}
    for path, v in files.items():
        parts = path.split(os.sep)
        for k in range(1, len(parts)):
            t = dirs.setdefault(os.sep.join(parts[:k]), dict.fromkeys(KEYS, 0))
            for key in KEYS:
                t[key] += v[key]
    return dirs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("paths", nargs="*", default=["src/main"])
    ap.add_argument("--against", metavar="DIR")
    ap.add_argument("--files", action="store_true")
    a = ap.parse_args()
    after = {}
    for p in a.paths:
        after.update(walk(".", os.path.normpath(p)))
    rows = dict(totals(after))
    if a.files:
        rows.update(after)
    if a.against is None:
        print(f"{'code':>7} {'comment':>7} {'sys.env':>7} {'defaults':>8}  path")
        for path in sorted(rows):
            v = rows[path]
            print(f"{v['code']:>7} {v['comment']:>7} {v['sys.env']:>7} {v['defaults']:>8}  {path}")
        return
    before = {}
    for p in a.paths:
        before.update(walk(a.against, os.path.normpath(p)))
    brows = dict(totals(before))
    if a.files:
        brows.update(before)
    zero = dict.fromkeys(KEYS, 0)
    print(f"{'code':>15} {'delta':>6} {'comment':>15} {'sys.env':>7} {'defaults':>9}  path")
    for path in sorted(set(rows) | set(brows)):
        b, v = brows.get(path, zero), rows.get(path, zero)
        if b == v:
            continue
        print(f"{b['code']:>7}->{v['code']:<7} {v['code'] - b['code']:>+6} "
              f"{b['comment']:>7}->{v['comment']:<7} "
              f"{b['sys.env']:>3}->{v['sys.env']:<3} {b['defaults']:>4}->{v['defaults']:<4}  {path}")


if __name__ == "__main__":
    sys.exit(main())
