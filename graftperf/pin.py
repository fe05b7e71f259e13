#!/usr/bin/env python3
"""Re-pin graftperf/fingerprints.tsv, the per-query correctness reference.

Usage (from the repository root): python3 graftperf/pin.py

Runs every pinned query once over graftperf/data, writes the outputs in the
layout scripts/selfcheck.py reads, compares them with the DuckDB oracle
through that script, and records a query's fingerprint (row count and
order-independent hash) only if its output matched the oracle. Queries
without an oracle are pinned from their rows-only check and listed as such.
Needs the python3 that has duckdb and pandas.
"""
import os
import re
import shutil
import subprocess
import sys

import run


def main():
    classes = run.build(run.source_hash(run.sources()))
    work = os.path.join(run.HERE, ".work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = run.jvm_cmd(classes, work, ["--workload", "pin", "--seed", "0", "--pin", out])
    subprocess.run(cmd, check=True, cwd=work, stdout=sys.stderr)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "selfcheck.py"),
                            os.path.join(run.HERE, "data"), out],
                           capture_output=True, text=True)
    sys.stderr.write(check.stdout)
    passed = {m.group(1): m.group(2) is not None
              for m in re.finditer(r"^PASS (\S+) \((rows-only)?", check.stdout, re.M)}
    lines = [l.split() for l in open(os.path.join(out, "fingerprints.tsv")) if l.strip()]
    kept = [l for l in lines if l[0] in passed]
    no_oracle = sorted(n for n, rows_only in passed.items() if rows_only)
    dropped = sorted(l[0] for l in lines if l[0] not in passed)
    with open(os.path.join(run.HERE, "fingerprints.tsv"), "w") as f:
        f.write("# query rows hash: output of graftperf/pin.py; each matched the DuckDB\n")
        f.write("# oracle of scripts/selfcheck.py over graftperf/data when pinned.\n")
        f.write(f"# no oracle (pinned from the rows-only check): {' '.join(no_oracle) or 'none'}\n")
        for l in kept:
            f.write(" ".join(l) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"pinned {len(kept)} queries; no oracle: {no_oracle}; not pinned (failed): {dropped}")
    return 1 if dropped else 0


if __name__ == "__main__":
    sys.exit(main())
