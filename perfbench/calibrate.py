#!/usr/bin/env python3
"""Refresh `perfbench/query_costs.json`, the per-query cost prior that
the operators sampler stratifies by.

    python3 perfbench/calibrate.py

Run from the root of a checkout. It generates the operator fixture for
seed 1 and times every registered query on it with `graft.Bench`
(min-of-N warm wall time, `local[4]` or fewer cores). The prior only
shapes which queries a seed draws, never a measured value, so it needs
refreshing only when query costs shift a lot or queries are added
(unknown queries rank at the median cost).
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


def main():
    cp, _ = run.build()
    work = os.path.join(run.BUILD, "calibrate")
    fixture = os.path.join(work, "fixture")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    gen.fixture(1, run.FIXTURE_SF, fixture)
    cores = str(min(4, os.cpu_count() or 1))
    cmd = (["java", f"-Xmx{run.JVM_HEAP}"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "graft.Bench"])
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=fixture, SPARK_GRAFT_CPUS=cores)
    # graft.Bench records BENCH_FULL.json in its working directory
    subprocess.run(cmd, cwd=work, env=env, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(work, "BENCH_FULL.json")) as f:
        costs = json.load(f)["queries"]
    with open(os.path.join(run.HERE, "query_costs.json"), "w") as f:
        json.dump({k: round(v, 3) for k, v in sorted(costs.items())}, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"{len(costs)} query costs written")


if __name__ == "__main__":
    main()
