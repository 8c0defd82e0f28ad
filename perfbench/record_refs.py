#!/usr/bin/env python3
"""Records the query_registry reference results (perfbench/registry_refs.tsv).

  python3 perfbench/record_refs.py [--passes 2] [--jvms 2] [query ...]

Runs the workload's slice (the queries named in registry_refs.tsv, or the
queries given) on the registry's generated data (fixed data seed) in
`--jvms` separate JVMs, `--passes` times each, through
perfbench.RegistryProbe, and rewrites the file: for each query the row
count, and the order-insensitive content hash when every pass in every JVM
gave the same one ("-" otherwise). Run it on the commit whose results are
the reference.
"""
import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

REFS = os.path.join(HERE, "registry_refs.tsv")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--jvms", type=int, default=2)
    ap.add_argument("queries", nargs="*")
    a = ap.parse_args()
    names = a.queries or [line.split("\t")[0] for line in open(REFS)
                          if line.strip() and not line.startswith("#")]
    cp, jars = build.build()
    seen = {}
    for j in range(a.jvms):
        work = os.path.join(build.build_dir(), "work", f"record-{j}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            code, lines = run.run_jvm(run.java_cmd(cp, jars, work, "perfbench.RegistryProbe",
                                                   [work, str(a.passes)] + names), work, 7200)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            raise SystemExit(f"record_refs: probe JVM {j} failed ({code})")
        for line in lines:
            if line.startswith("PROBE "):
                r = json.loads(line[6:])
                if "error" in r:
                    raise SystemExit(f"record_refs: {r['name']} failed: {r['error']}")
                seen.setdefault(r["name"], []).append((r["rows"], r["hash"]))
    with open(REFS, "w") as f:
        f.write("# query\trows\thash ('-': differs between runs)\n")
        for name in sorted(seen, key=lambda n: int(n[1:].split("_")[0])):
            rows = {x[0] for x in seen[name]}
            if len(rows) != 1:
                raise SystemExit(f"record_refs: {name} row count differs between runs: {rows}")
            hashes = {x[1] for x in seen[name]}
            h = str(hashes.pop()) if len(hashes) == 1 else "-"
            f.write(f"{name}\t{rows.pop()}\t{h}\n")


if __name__ == "__main__":
    main()
