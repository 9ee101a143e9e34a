#!/usr/bin/env python3
"""Re-record expected_digests.json, the reference the query workloads check
every op against.

    python3 perfbench/record_digests.py

Run from the repository root. It builds the benchmark, computes the digest
of every read-only query of the two query workloads' families on the
generated tables, then has the engine's `graft.Verify` dump the same
queries' results and compares each with the DuckDB oracle SQL using
tools/verify_local.py's normalisation. A query whose result disagrees with
the oracle is recorded with "oracle": "mismatch", and the benchmark counts
every run of it as failed. Queries without oracle SQL are "rows-only".
"""
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    classes = run.build()
    data_dir = run.data()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        cmd = run.jvm_cmd(classes, ["--digests", "--data", data_dir, "--work", os.path.join(tmp, "work"),
                                    "--cores", str(run.CORES)])
        out = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        rows = [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]
        names = [r["query"] for r in rows]

        verify_out = os.path.join(tmp, "verify")
        verify = run.jvm_cmd(classes, [])
        verify[verify.index("perfbench.Main")] = "graft.Verify"
        verify.insert(1, f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}")
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names), SPARK_GRAFT_CPUS="4")
        subprocess.run(verify + [data_dir, verify_out], cwd=tmp, env=env, check=True,
                       stdout=sys.stderr)
        oracle = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "verify_local.py"), data_dir, verify_out],
            stdout=subprocess.PIPE, text=True).stdout
    verdict = {}
    for ln in oracle.splitlines():
        parts = ln.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            verdict[parts[1].rstrip(":")] = "match" if parts[0] == "PASS" else "mismatch"
    queries = {}
    for r in rows:
        status = verdict.get(r["query"], "mismatch") if r["oracle_sql"] else "rows-only"
        queries[r["query"]] = {"digest": r["digest"], "oracle": status}
    doc = {"sf": run.SF, "digest": "row count : sum of xxhash64(all columns) as decimal(38,0)",
           "queries": queries}
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    bad = [q for q, e in queries.items() if e["oracle"] == "mismatch"]
    print(f"{len(queries)} queries recorded, {len(bad)} disagree with the oracle: {bad}")


if __name__ == "__main__":
    main()
