#!/usr/bin/env python3
"""One seeded benchmark for the CDM job path and the operator registry.

    python3 perfbench/run.py --workload cdm|operators \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark's JVM side (`perfbench/build.sbt`) and caches the classpath in
`.bench_build/`; later runs reuse it while the sources are unchanged.
The last line of stdout is the result:
`{"correct", "attempted", "failed", "metrics"}`; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Profiles for
`perfbench/profdiff.py` go to `.bench_build/profiles/`. See
`perfbench/README.md`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdm", "operators")
# origin rows of the CDM table; operator fixture scale
CDM_ROWS = 50_000
MAP_PROBE_ROWS = 400
FIXTURE_SF = 0.002
# ops per run, rounded up to whole passes over the op kinds: fixed, so
# that op_s.tail (p75) is the same rank on every commit. Sized so that a
# full series of runs (4 + 22 per workload) fits in 3,420 s.
MIN_OPS = {"cdm": 12, "operators": 32}
RUN_LIMIT_S = 170
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, to reuse a build while it holds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if not os.path.isfile(f):
            raise BenchError(f"missing build input {os.path.relpath(f, ROOT)}: "
                             "run from the root of a checkout")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile (once per source state) and return (classpath, registry)."""
    stamp = source_stamp()
    cp_file, reg_file, stamp_file = (os.path.join(BUILD, x) for x in
                                     ("classpath.txt", "registry.json", "stamp"))
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read(), json.load(open(reg_file))
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building (sbt compile in perfbench/)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        raise BenchError("build failed:\n" + p.stdout[-3000:] + p.stderr[-3000:])
    cp = lines[-1].strip()
    subprocess.run(["java", "-cp", cp, "graft.perfbench.BenchMain", "--list-registry", reg_file],
                   check=True, capture_output=True, timeout=120)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, json.load(open(reg_file))


def generate(workload, seed, work, registry):
    """Make the run's inputs from the seed; returns what the metrics need."""
    if workload == "cdm":
        # validate throws on a map column (README, "Known defect"): the
        # timed table goes without one, and a small table that keeps it
        # is probed after the timed ops
        meta = gen.cdm_origin(seed, CDM_ROWS, work, with_map=False)
        injected = gen.late_origin(seed, work)
        gen.cdm_config(work, "migrate", "origin", validate=False)
        gen.cdm_config(work, "validate", "late", validate=True)
        probe = os.path.join(work, "mapprobe")
        gen.cdm_origin(seed, MAP_PROBE_ROWS, probe)
        gen.cdm_config(probe, "validate", "origin", validate=True)
        gen.write_meta(work, {"table": meta["table"], "guardrail_violations": meta["guardrail_violations"],
                              "expected_sql": meta["expected_sql"], "injected_missing": injected["MISSING"],
                              "injected_mismatch": injected["MISMATCH"]})
        return {"origin_rows": meta["rows"], "origin_bytes": meta["bytes"]}
    fixture = os.path.join(work, "fixture")
    rows = gen.fixture(seed, FIXTURE_SF, fixture)
    with open(os.path.join(HERE, "query_costs.json")) as f:
        costs = json.load(f)
    sample = gen.operator_sample(seed, registry["families"], costs)
    size = sum(os.path.getsize(os.path.join(fixture, f)) for f in os.listdir(fixture))
    return {"fixture": fixture, "fixture_rows": rows, "origin_bytes": size, "sample": sample}


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dspark.master={args['master']}", "-Dspark.ui.enabled=false",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", cp, "graft.perfbench.BenchMain"]
           + [x for k, v in args.items() if k != "master" for x in (f"--{k}", str(v))])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("JVM run exceeded the time limit")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"JVM exited with {rc}:\n{tail}")


def oracle_failures(work, fixture, sample, registry):
    """Query name -> reason, for sampled queries whose set-up dump does not
    match the DuckDB oracle (`tools/check.py`'s comparison), or, for the
    queries without an oracle, is empty."""
    import duckdb
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for f in sorted(os.listdir(fixture)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{os.path.join(fixture, f)}'")
    oracle = registry["oracle"]
    bad = {}
    for name in sorted(set(sample)):
        d = os.path.join(work, "dump", name)
        if not os.path.isdir(d):
            bad[name] = "no dump (the query threw in set-up)"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{d}/*.parquet'").df()
            if name not in oracle:
                if len(got) == 0:
                    bad[name] = "no oracle and no rows"
                continue
            want = con.execute(oracle[name]).df()
        except duckdb.Error as e:
            bad[name] = f"unreadable dump or oracle SQL error: {e}"
            continue
        ok, status = check.compare(got.reindex(sorted(got.columns), axis=1),
                                   want.reindex(sorted(want.columns), axis=1))
        if not ok:
            bad[name] = status
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common benchmark interface; the op count is fixed
    # (MIN_OPS), never sized by time
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp, registry = build()
    t_start = time.time()  # set-up starts after the (cached) build
    deadline = t_start + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = generate(a.workload, a.seed, work, registry)
    t_launch = time.time()
    cores = min(4, os.cpu_count() or 1)
    args = {"master": f"local[{cores}]", "workload": a.workload, "work": work,
            "min-ops": MIN_OPS[a.workload], "trace": a.trace, "cores": cores,
            "out": os.path.join(work, "result.json")}
    if a.workload == "operators":
        args.update(queries=",".join(inputs["sample"]), fixture=inputs["fixture"])
    run_jvm(cp, args, work, deadline)
    res = json.load(open(args["out"]))
    setup_s = res["first_op_epoch_ms"] / 1e3 - t_start
    setup_parts = {"generate_s": t_launch - t_start,
                   "jvm_and_session_s": res["session_ready_epoch_ms"] / 1e3 - t_launch,
                   "workload_setup_s": (res["first_op_epoch_ms"] - res["session_ready_epoch_ms"]) / 1e3}

    failed_names = {}
    if a.workload == "operators":
        failed_names = dict(res["setup"]["dump_errors"])
        t_oracle = time.time()
        failed_names.update(oracle_failures(work, inputs["fixture"], inputs["sample"], registry))
        setup_parts["oracle_check_s"] = time.time() - t_oracle
        for name, why in sorted(failed_names.items()):
            log(f"query {name} failed its check: {why}")
    ops = res["ops"]
    if not ops:
        raise BenchError("no op completed")
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failed_names)
    if res["final_check_error"]:
        log(res["final_check_error"])
        if ops[-1]["ok"]:
            failed += 1
    # every query runs over the whole fixture, as every CDM job runs over
    # the origin table
    rows_per_op = inputs["origin_rows"] if "origin_rows" in inputs else sum(inputs["fixture_rows"].values())
    e2e, tail_info = layers.end_to_end(res, setup_s, rows_per_op)
    profile = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
               "inputs": {k: v for k, v in inputs.items() if k != "fixture"},
               "setup": res["setup"], "setup_parts": setup_parts, "end_to_end": {k: v[0] for k, v in e2e.items()},
               "tail": tail_info, "attempted": len(ops), "failed": failed,
               "errors": sorted({o["error"] for o in ops if o["error"]})[:5],
               "failed_queries": failed_names, "notes": res["notes"],
               "ops": [{k: o[k] for k in ("name", "wall_s", "task_cpu_s", "check_s", "ok", "traced")}
                       for o in ops]}
    print(f"workload={a.workload} seed={a.seed} cores={cores} ops={len(ops)} failed={failed} "
          f"failed_frac={failed / len(ops):.4f} op_s.tail=p{tail_info['tail_percentile']:.1f} "
          f"(n={tail_info['tail_n']})")
    if a.workload != "operators":
        print(f"origin: {inputs['origin_rows']} rows, {inputs['origin_bytes']} bytes")
    else:
        print(f"sample ({len(inputs['sample'])}): {','.join(inputs['sample'])}")
    for err in profile["errors"]:
        print(f"op error: {err.splitlines()[0]}")
    for k, v in res["notes"].items():
        print(f"known-defect probe, {k}: {str(v).splitlines()[0]}")

    if a.trace:
        injected = res["setup"].get("injected_missing", 0) + res["setup"].get("injected_mismatch", 0)
        traced = [o for o in ops if o["traced"]]
        per_op = [layers.op_layers(o, cores, inputs["origin_bytes"], injected) for o in traced]
        values = {k: [p[k] for p in per_op] for k in layers.PER_LAYER_UNITS}
        metrics = {k: {"value": layers.median(v), "unit": layers.PER_LAYER_UNITS[k]}
                   for k, v in values.items()}
        overhead, base = layers.tracing_overhead(ops)
        self_t = {}
        for o in traced:
            for k, s in layers.self_times(o).items():
                self_t.setdefault(k, []).append(s)
        profile.update(per_layer=values, self_times=self_t,
                       tracing_overhead_s=overhead, untraced_op_s=base,
                       traced_ops=[o["name"] for o in traced])
        if overhead is not None:
            print(f"tracing overhead: {overhead:+.4f} s per op against {base:.4f} s untraced "
                  f"({100 * overhead / base:+.1f} %)")
        if a.workload == "operators":
            print(f"build-time jobs: {sum(values['queries.build_jobs']):.0f} of "
                  f"{sum(values['spark.jobs']):.0f} jobs in {len(traced)} traced ops")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    os.makedirs(os.path.join(BUILD, "profiles"), exist_ok=True)
    with open(os.path.join(BUILD, "profiles", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(profile, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0 and not res["final_check_error"]
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
