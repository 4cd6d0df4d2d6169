#!/usr/bin/env python3
"""Output-equivalence check against a parent revision.

Usage (from the root of a checkout):
  python3 tools/equiv.py <parent-rev> --data DIR [--sf sf0.001,sf0.01]
                         [--only q01,q02] [--cpus N] [--work DIR]

Extracts <parent-rev> with `git archive` into a scratch directory
(--work, default: graft-equiv under the system temp dir), builds it and
this checkout with `sbt compile`, and runs `graft.Verify` on both trees
for each scale factor: DIR/<sf> holds that scale's tables. A built
parent is reused by later calls. Each row's parquet is hashed as SHA-256
of its schema (column names and types) and of its rows in file order.
`check_oracle.py` and `lint_oracle_types.py` run on this checkout's
output. The script prints one table line per scale factor (rows
compared, rows identical, the other checks), then names every row that
differs or is missing on either side. It exits 1 if any row differs,
any oracle check fails or the lint reports a hard hit.

--only keeps the rows whose name contains one of the comma-separated
parts (graft.Verify's SPARK_GRAFT_VERIFY_ONLY). --cpus sets the local
core count of both Verify runs (default 4). Building needs sbt on the
PATH and the same settings a plain `sbt compile` here needs.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd, cwd, log, env=None):
    with open(log, "w") as f:
        r = subprocess.run(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT,
                           env=env)
    if r.returncode != 0:
        sys.exit(f"equiv: {' '.join(cmd)} failed in {cwd}; see {log}")


def parent_tree(rev, work):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"],
                         cwd=ROOT, capture_output=True, text=True)
    if sha.returncode != 0:
        sys.exit(f"equiv: unknown revision {rev!r}")
    tree = os.path.join(work, "parent-" + sha.stdout.strip()[:12])
    if not os.path.exists(os.path.join(tree, ".equiv-built")):
        shutil.rmtree(tree, ignore_errors=True)
        os.makedirs(tree)
        archive = subprocess.Popen(["git", "archive", sha.stdout.strip()],
                                   cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout,
                       check=True)
        archive.wait()
        build(tree, work, "parent")
        open(os.path.join(tree, ".equiv-built"), "w").close()
    return tree


def build(tree, work, side):
    run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], tree,
        os.path.join(work, f"build-{side}.log"))


def verify(tree, sf_dir, out, log, cpus, only):
    """graft.Verify into a fresh `out`; returns the rows it reports failed."""
    shutil.rmtree(out, ignore_errors=True)  # stale row dirs mask failures
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_GRAFT_VERIFY_ONLY", None)
    if only:
        env["SPARK_GRAFT_VERIFY_ONLY"] = only
    run([os.path.join(tree, "tools/jrun.sh"), "graft.Verify", sf_dir, out],
        tree, log, env)
    return re.findall(r"\[verify\] (\S+) failed", open(log).read())


def row_hash(qdir):
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None
    h = hashlib.sha256()
    schema = pq.read_schema(files[0])
    h.update(repr([(f.name, str(f.type)) for f in schema]).encode())
    for f in files:
        for row in pq.read_table(f).to_pylist():
            h.update(repr(tuple(row.values())).encode())
    return h.hexdigest()


def hashes(out):
    return {os.path.basename(d): row_hash(d)
            for d in glob.glob(os.path.join(out, "*")) if os.path.isdir(d)}


def last_line(cmd, log):
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    with open(log, "w") as f:
        f.write(r.stdout + r.stderr)
    lines = r.stdout.strip().splitlines()
    return lines[-1].strip("= ") if lines else f"no output (see {log})"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("rev")
    ap.add_argument("--data", required=True)
    ap.add_argument("--sf", default="sf0.001,sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--work",
                    default=os.path.join(tempfile.gettempdir(), "graft-equiv"))
    a = ap.parse_args()
    work = os.path.abspath(a.work)
    os.makedirs(work, exist_ok=True)
    trees = {"parent": parent_tree(a.rev, work), "change": ROOT}
    build(ROOT, work, "change")

    table, named, ok = [], [], True
    for sf in [s for s in a.sf.split(",") if s]:
        sf_dir = os.path.join(os.path.abspath(a.data), sf)
        got, failed = {}, {}
        for side, tree in trees.items():
            out = os.path.join(work, "out", side, sf)
            failed[side] = verify(tree, sf_dir, out,
                                  os.path.join(work, f"verify-{side}-{sf}.log"),
                                  a.cpus, a.only)
            got[side] = hashes(out)
        p, c = got["parent"], got["change"]
        names = sorted(set(p) | set(c))
        same = [n for n in names if p.get(n) and p.get(n) == c.get(n)]
        for n in names:
            if n in same:
                continue
            why = ("missing at the parent" if not p.get(n) else
                   "missing in the change" if not c.get(n) else "output differs")
            named.append(f"{sf} {n}: {why}")
        for side in trees:
            named += [f"{sf} {n}: Verify reports failed ({side})"
                      for n in failed[side]]
        out = os.path.join(work, "out", "change", sf)
        oracle = last_line([sys.executable, "tools/check_oracle.py", sf_dir,
                            out], os.path.join(work, f"oracle-{sf}.log"))
        lint = last_line([sys.executable, "tools/lint_oracle_types.py", sf_dir,
                          out], os.path.join(work, f"lint-{sf}.log"))
        ok &= (len(same) == len(names) and not any(failed.values())
               and re.search(r"\b0 bad\b", oracle) is not None
               and re.search(r"\b0 hard\b", lint) is not None)
        compared = (f"{len(names)} (--only {a.only})" if a.only
                    else f"all {len(names)}")
        table.append(f"| {sf} | {compared} | {len(same)} | "
                     f"`check_oracle.py` {oracle}; "
                     f"`lint_oracle_types.py` {lint} |")

    print("| SF | rows compared | identical | other checks (change) |")
    print("|---|---|---|---|")
    print("\n".join(table))
    print("\n".join(["", "Rows that differ:"] + named) if named
          else "\nNo row differs.")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
