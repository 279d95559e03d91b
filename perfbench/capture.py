#!/usr/bin/env python3
"""Write perfbench/expected-<tables>.json: every registry query's row count
and content fingerprint on one of the benchmark's table sets
(perfbench/data/<tables>), which the registry_mix workload checks its
results against.

    python3 perfbench/capture.py sf0.001      # from the root of a checkout

It runs the whole registry twice, in two JVMs and in opposite orders. A
query whose row count differs between the two, or that fails, stops the
capture. A query whose content differs keeps only its row count (a null
fingerprint). Capture from a commit whose results match the DuckDB oracle
(tools/compare_oracle.py); a later change to a query's results must
re-capture and say why in its change log.
"""
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import build
import run

LINE = re.compile(r'\s*"([^"]+)": \{(.*)\},?$')


def capture(tables: Path, reverse: int) -> dict:
    work = Path.cwd() / ".bench_work" / f"capture-{reverse}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "out.json"
    cmd = run.java(work, "graftbench.Capture") + [
        "--cores", str(os.cpu_count() or 1), "--work", str(work), "--tables", str(tables),
        "--out", str(out), "--reverse", str(reverse)]
    subprocess.run(cmd, check=True, env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")))
    found = {m.group(1): m.group(2) for m in map(LINE.match, out.read_text().splitlines()) if m}
    shutil.rmtree(work, ignore_errors=True)
    return found


def main() -> int:
    tables_name = sys.argv[1]
    tables = run.BENCH / "data" / tables_name
    build.build()
    a, b = capture(tables, 0), capture(tables, 1)
    lines, bad = [], []
    for name, fa in a.items():
        fb = b.get(name)
        ra, rb = (re.search(r'"rows": (\d+)', f) for f in (fa, fb or ""))
        if not ra or not rb or ra.group(1) != rb.group(1):
            bad.append(f"{name}: {fa} / {fb}")
            continue
        fp = fa if fa == fb else f'"rows": {ra.group(1)}, "fingerprint": null'
        lines.append(f'  "{name}": {{{fp}}}')
    if bad:
        print("capture: failed or unstable queries:\n  " + "\n  ".join(bad), file=sys.stderr)
        return 1
    (run.BENCH / f"expected-{tables_name}.json").write_text("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"capture: {len(lines)} queries, {sum('null' in l for l in lines)} without a fingerprint")
    return 0


if __name__ == "__main__":
    sys.exit(main())
