#!/usr/bin/env python3
"""Re-records query_block's reference values.

Runs `graft.Verify` on perfbench/testdata/sf0.001, checks its output
against DuckDB with tools/check_oracle.py, and only if every query
passes writes the digest of each query's output to
perfbench/reference/sf0.001.txt. Needs duckdb and pyarrow.

    python3 perfbench/record_refs.py
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def java(cp, work, main, args):
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    with open(os.path.join(work, f"{main}.log"), "w") as log:
        subprocess.run(cmd + ["-cp", os.pathsep.join(cp), main] + args, check=True,
                       cwd=work, stdout=log, stderr=subprocess.STDOUT)


def main():
    cp = build.build()
    work = os.path.join(HERE, ".work", "record_refs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "verify")
    java(cp, work, "graft.Verify", [run.QUERY_SF, out])
    check = subprocess.run([sys.executable, os.path.join(os.path.dirname(HERE), "tools",
                                                         "check_oracle.py"), run.QUERY_SF, out])
    if check.returncode != 0:
        print("[perfbench] oracle check failed; references left unchanged", file=sys.stderr)
        return 1
    java(cp, work, "perfbench.Main", ["record", "threads=4", f"work={work}",
                                      f"verified={out}", f"refs={run.QUERY_REFS}",
                                      f"out={os.path.join(work, 'record.json')}"])
    print(f"[perfbench] wrote {os.path.relpath(run.QUERY_REFS, os.path.dirname(HERE))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
