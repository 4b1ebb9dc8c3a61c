#!/usr/bin/env python3
"""Re-record perfbench/expected/serve_mix.txt, the committed outputs that
every serve_mix run checks its results against.

    python3 perfbench/record_expected.py [KEY ...]

That file is the one list of the mix: the harness runs the keys it
names, in its order. Without arguments the script re-records those keys;
with arguments it records the keys given, which makes them the mix.

Run from the root of a checkout, after one benchmark run has built the
harness (.bench_build/classpath.json) and the base corpus. It dumps every
key of the base corpus with the program's own graft.Verify, grades the
dump with tools/check_oracle.py (DuckDB runs each key's oracle SQL over
the same parquet), and only if every key passes writes `key rows md5`
per key, hashed exactly as check_oracle.py hashes. topk_native
(Graft.topKNative, not a SparkEntry key) gets vec_topk's line: it must
return exactly vec_topk's rows.
"""
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check_oracle  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


EXPECTED = os.path.join(HERE, "expected", "serve_mix.txt")
TOPK_NATIVE = "topk_native"


def mix_keys():
    with open(EXPECTED) as f:
        return [l.split()[0] for l in f
                if l.strip() and not l.startswith("#")]


def main():
    with open(os.path.join(ROOT, ".bench_build", "classpath.json")) as f:
        cp = json.load(f)["classpath"]
    data = gen.base_corpus(os.path.join(ROOT, ".bench_work", "data"))
    dump = os.path.join(ROOT, ".bench_work", "expected-dump")
    keys = sys.argv[1:] or mix_keys()
    if TOPK_NATIVE in keys and "vec_topk" not in keys:
        sys.exit(f"{TOPK_NATIVE} is checked against vec_topk, which is not in the mix")
    verify_keys = [k for k in keys if k != TOPK_NATIVE]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(["java", *run.JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                    "graft.Verify", "--keys=" + ",".join(verify_keys), data, dump],
                   check=True, env=env, cwd=os.path.join(ROOT, ".bench_work"))
    # exits non-zero unless every dumped key matches its oracle
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                    data, dump], check=True)
    lines = ["# key rows md5 -- serve_mix outputs on the base corpus, "
             "graded by tools/check_oracle.py; see record_expected.py"]
    for k in keys:
        t = pq.read_table(os.path.join(dump, "vec_topk" if k == TOPK_NATIVE else k))
        rows = [tuple(r.values()) for r in t.to_pylist()]
        lines.append(f"{k} {len(rows)} {check_oracle.canon(rows, t.column_names)}")
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"recorded {len(keys)} keys")


if __name__ == "__main__":
    main()
