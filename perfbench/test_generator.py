#!/usr/bin/env python3
"""Test of the seeded input generators: the same seed gives byte-identical
inputs, another seed gives other inputs. Covers the domain cohort (written
by the benchmark JVM) and the batch/streaming tables (gen_tables.py), and
prints the share of each cohort property the domain path depends on.

Usage (from the root of a checkout): python3 perfbench/test_generator.py
Exit code 0 when every check holds.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cohort(jar, seed, work):
    shutil.rmtree(work, ignore_errors=True)
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-cp", f"{jar}{os.pathsep}{run.spark_jars()}",
         "perfbench.Main", "--workload", "domain_path", "--seed", str(seed),
         "--work", work, "--generate-only"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, check=True)
    return digest(os.path.join(work, "input")), json.loads(out.stdout.strip().splitlines()[-1])


def tables(seed, work):
    shutil.rmtree(work, ignore_errors=True)
    gen_tables.generate(seed, work)
    return digest(work)


def main():
    jar = run.build()
    tmp = os.path.join(run.OUT, "generator-test")
    failures = []

    def check(name, a, b, c):
        if a != b:
            failures.append(f"{name}: seed 11 twice gave different inputs")
        if a == c:
            failures.append(f"{name}: seeds 11 and 12 gave identical inputs")
        print(f"{name}: seed 11 {a[:12]} / {b[:12]}, seed 12 {c[:12]}")

    (a, props), (b, _), (c, _) = (cohort(jar, s, os.path.join(tmp, f"cohort{i}"))
                                  for i, s in enumerate((11, 11, 12)))
    check("domain cohort", a, b, c)
    check("tables", *(tables(s, os.path.join(tmp, f"tables{i}"))
                      for i, s in enumerate((11, 11, 12))))
    print("input properties (seed 11):")
    for k, v in sorted(props["properties"].items()):
        print(f"  {k}: {v:.3f}")
    for k in ("variants_shared_across_samples", "records_multi_csq",
              "junctions_near_duplicate", "samples_reingested"):
        if not props["properties"].get(k, 0) > 0:
            failures.append(f"property {k} is absent")
    shutil.rmtree(tmp, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
