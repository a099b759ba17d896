"""Metrics from the JVM's raw op records.

End-to-end metrics come from every op; per-layer metrics come from the
traced ops of a `--trace 1` run. A layer is a module of the library
(`config`, `jobs`, `io`, `ops`, `queries`, `ext`, ...) or the Spark
engine beneath it (`sql`, `spark`).

Attribution of a Spark job to a module: the innermost `graft.<module>`
frame of the job's call site (the benchmark's own `graft.perfbench`
frames do not count). Jobs that AQE submits from its own threads carry
no call site; they are linked through `spark.sql.execution.id` to the
SQL execution whose call site they inherit.
"""
import math
import re
import statistics

_FRAME = re.compile(r"^\s*(?:at\s+)?(graft\.[\w$.]+)\(")
_OWN = "graft.perfbench."
TAIL_PCT = 75
# the diff report validate writes; its other writes are the autocorrect
REPORT_PATH = "_diff_report"


def innermost_frame(details):
    """`graft.io.TableIO$.read` for a call site whose innermost library
    frame is TableIO.read; None when no library frame is present."""
    for line in (details or "").splitlines():
        m = _FRAME.match(line)
        if m and not m.group(1).startswith(_OWN):
            return m.group(1)
    return None


def module_of(frame):
    """`graft.io.TableIO$.read` → `io`; a top-level `graft.Main$.x` → `main`."""
    if not frame:
        return None
    parts = frame.split(".")
    return parts[1] if len(parts) > 3 else parts[1].rstrip("$").lower()


def job_frame(job, execs_by_id):
    """Innermost library frame of a job, through its SQL execution when
    the job itself has no call site (AQE-thread jobs)."""
    frame = innermost_frame(job.get("details"))
    if frame is None and job.get("exec_id") is not None:
        ex = execs_by_id.get(job["exec_id"])
        if ex is not None:
            frame = innermost_frame(ex.get("details"))
    return frame


def tail(values, pct=TAIL_PCT):
    """op_s.tail: the nearest-rank `pct` percentile, with pct and n. A run
    makes a fixed number of ops, so two commits are compared at the same
    rank."""
    n = len(values)
    return sorted(values)[max(1, math.ceil(pct * n / 100)) - 1], pct, n


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(res, setup_s, rows_per_op):
    """The end-to-end metrics of one untraced run; `rows_per_op` is the
    input rows every op runs over (the origin table, or the fixture)."""
    ops = res["ops"]
    walls = [o["wall_s"] for o in ops]
    t, pct, n = tail(walls)
    return {
        "setup_s": (setup_s, "s"),
        "op_s.p50": (median(walls), "s"),
        "op_s.tail": (t, "s"),
        "rows_per_s": (median([rows_per_op / w for w in walls]), "1/s"),
        "cpu_s_per_op": (median([o["task_cpu_s"] for o in ops]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, {"tail_percentile": pct, "tail_n": n}


PER_LAYER_UNITS = {
    "config.resolve_s": "s", "jobs.migrate_s": "s", "jobs.guardrail_s": "s",
    "jobs.validate_s": "s", "jobs.plan_s": "s",
    "io.read_calls": "count", "io.read_s": "s", "io.read_jobs": "count",
    "io.write_s": "s", "io.bytes_written_per_input_byte": "B/B",
    "io.bytes_read_per_input_byte": "B/B",
    "ops.autocorrect_s": "s", "ops.rows_rewritten_per_corrected_row": "rows/row",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.action_s": "s",
    "ext.build_jobs": "count", "ext.build_s": "s",
    "sql.codegen_ms": "ms", "sql.scan_ms": "ms", "sql.agg_build_ms": "ms", "sql.sort_ms": "ms",
    "sql.hash_build_ms": "ms", "sql.broadcast_build_ms": "ms", "sql.shuffle_write_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s", "spark.task_wait_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.peak_exec_mem_bytes": "B", "spark.core_busy_frac": "frac",
}
SQL_KINDS = [k[len("sql."):] for k in PER_LAYER_UNITS if k.startswith("sql.")]


def _dur_s(rec):
    return max(0.0, rec["t1_ms"] - rec["t0_ms"]) / 1e3


def _under(span_id, spans_by_id, root_id):
    """True when span `span_id` is `root_id` or nested inside it."""
    while span_id is not None:
        if span_id == root_id:
            return True
        span_id = spans_by_id.get(span_id, {}).get("parent")
    return False


def op_layers(op, cores, origin_bytes, corrected_rows):
    """Per-layer values of one traced op. The autocorrect merge is every
    SQL execution that a `jobs`/`validate` span runs and that writes
    anything but the diff report (the staging table, the target rewrite)."""
    spans = op["spans"]
    spans_by_id = {s["id"]: s for s in spans}
    execs = {e["id"]: e for e in op["execs"]}
    jobs = op["jobs"]
    v = dict.fromkeys(PER_LAYER_UNITS, 0.0)

    def span_total(layer, name=None):
        return sum(_dur_s(s) for s in spans if s["layer"] == layer and (name is None or s["name"] == name))

    v["config.resolve_s"] = span_total("config")
    for job in ("migrate", "guardrail", "validate"):
        v[f"jobs.{job}_s"] = span_total("jobs", job)
    v["jobs.plan_s"] = op.get("aux", {}).get("jobs.plan_s", 0.0)
    v["queries.build_s"] = span_total("queries", "build")
    v["queries.action_s"] = span_total("queries", "action")

    validate_ids = [s["id"] for s in spans if s["layer"] == "jobs" and s["name"] == "validate"]
    correcting = {j["exec_id"] for j in jobs
                  if any(_under(j.get("span"), spans_by_id, b) for b in validate_ids)
                  and any(REPORT_PATH not in p for p in execs.get(j.get("exec_id"), {}).get("write_paths", []))}
    build_ids = [s["id"] for s in spans if s["layer"] == "queries" and s["name"] == "build"]
    written = 0
    for j in jobs:
        frame = job_frame(j, execs) or ""
        module = module_of(frame)
        wall = _dur_s(j) if j["t1_ms"] >= 0 else 0.0
        in_build = any(_under(j.get("span"), spans_by_id, b) for b in build_ids)
        if j.get("exec_id") in correcting:
            v["ops.autocorrect_s"] += wall
            v["ops.rows_rewritten_per_corrected_row"] += j["output_records"]
        elif frame.startswith("graft.io.TableIO$.write"):
            v["io.write_s"] += wall
            written += j["output_bytes"]
        if frame == "graft.io.TableIO$.read":
            v["io.read_jobs"] += 1
            v["io.read_s"] += wall
        if in_build:
            v["queries.build_jobs"] += 1
            if module == "ext":
                v["ext.build_jobs"] += 1
                v["ext.build_s"] += wall
        v["spark.jobs"] += 1
        v["spark.stages"] += j["stages"]
        v["spark.tasks"] += j["tasks"]
        v["spark.task_cpu_s"] += j["cpu_s"]
        v["spark.task_run_s"] += j["run_s"]
        v["spark.task_wait_s"] += j["wait_s"]
        v["spark.gc_s"] += j["gc_s"]
        v["spark.shuffle_read_bytes"] += j["shuffle_read_bytes"]
        v["spark.shuffle_write_bytes"] += j["shuffle_write_bytes"]
        v["spark.spill_bytes"] += j["spill_bytes"]
        v["spark.peak_exec_mem_bytes"] = max(v["spark.peak_exec_mem_bytes"], j["peak_exec_mem_bytes"])
        v["io.bytes_read_per_input_byte"] += j["input_bytes"]
    v["io.bytes_read_per_input_byte"] /= origin_bytes
    v["io.bytes_written_per_input_byte"] = written / origin_bytes
    v["ops.rows_rewritten_per_corrected_row"] = (
        v["ops.rows_rewritten_per_corrected_row"] / corrected_rows if corrected_rows else 0.0)
    v["io.read_calls"] = sum(e["scans"] for e in op["execs"])
    for e in op["execs"]:
        for kind in SQL_KINDS:
            v[f"sql.{kind}"] += e["sql_ms"].get(kind, 0.0)
    v["spark.core_busy_frac"] = v["spark.task_run_s"] / (op["wall_s"] * cores)
    return v


def self_times(op):
    """Layer self time per span: span wall minus the union of the walls of
    its child spans and of the jobs it submitted directly."""
    out = {}
    for s in op["spans"]:
        kids = [c for c in op["spans"] if c.get("parent") == s["id"]]
        kids += [j for j in op["jobs"] if j.get("span") == s["id"] and j["t1_ms"] >= 0]
        covered = _union_ms([(max(k["t0_ms"], s["t0_ms"]), min(k["t1_ms"], s["t1_ms"])) for k in kids])
        key = f"{s['layer']}.{s['name']}"
        out[key] = out.get(key, 0.0) + max(0.0, (s["t1_ms"] - s["t0_ms"] - covered) / 1e3)
    return out


def _union_ms(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def tracing_overhead(ops):
    """Traced minus untraced op wall, median over op kinds that ran both
    ways in the same run (seconds), with the untraced median for scale."""
    diffs, bases = [], []
    for name in sorted({o["name"] for o in ops}):
        tr = [o["wall_s"] for o in ops if o["name"] == name and o["traced"]]
        un = [o["wall_s"] for o in ops if o["name"] == name and not o["traced"]]
        if tr and un:
            diffs.append(median(tr) - median(un))
            bases.append(median(un))
    return (median(diffs), median(bases)) if diffs else (None, None)
