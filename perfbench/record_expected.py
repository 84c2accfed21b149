#!/usr/bin/env python3
"""Record the expected result hashes that run.py checks.

    python3 perfbench/record_expected.py

Hashes are recorded only after every workload query passes the DuckDB
oracle: graft.Verify dumps the queries' results on both benchmark corpora
and tools/check_oracle.py compares them with each query's oracle SQL. Then
one run per workload writes its hashes to perfbench/expected/<workload>.json.
Run it again only when a query's correct output changes on purpose.
"""
import subprocess
import sys

import run


def main():
    classpath = run.build()
    spec = run.json.loads((run.ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    names = subprocess.run(
        ["java", "-cp", classpath, "perfbench.Workloads", *workloads],
        check=True, stdout=subprocess.PIPE, text=True).stdout.split()
    for corpus in (run.WARM_CORPUS, run.CORPUS):
        out = run.BUILD / "verify" / corpus.name
        subprocess.run(run.java_cmd(classpath, "graft.Verify", corpus, out, *names),
                       check=True, cwd=run.BUILD, stderr=subprocess.DEVNULL)
        oracle = subprocess.run(
            [sys.executable, str(run.ROOT / "tools" / "check_oracle.py"),
             str(corpus), str(out), *names])
        if oracle.returncode != 0:
            run.fail(f"oracle check failed on {corpus.name}; nothing recorded")
    for w in workloads:
        subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload", w,
                        "--seed", "1", "--seconds", "1", "--record-expected"],
                       check=True)


if __name__ == "__main__":
    main()
