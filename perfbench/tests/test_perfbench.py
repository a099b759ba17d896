"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests
"""
import bisect
import hashlib
import math
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import layers  # noqa: E402
import profdiff  # noqa: E402
import run  # noqa: E402

# the registry's 12 families at their real sizes, with stand-in names
FAMILIES = {f"F{i:02d}Queries": [f"q{i:02d}_{j:02d}" for j in range(n)]
            for i, n in enumerate([12, 14, 15, 23, 16, 3, 13, 41, 3, 29, 13, 10])}


def digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generated(seed):
    with tempfile.TemporaryDirectory() as work:
        gen.cdm_origin(seed, 2000, work, with_map=False)
        gen.late_origin(seed, work)
        gen.fixture(seed, 0.0002, os.path.join(work, "fixture"))
        return digest(work)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        self.assertEqual(generated(7), generated(7))
        self.assertNotEqual(generated(7), generated(8))

    def test_cdm_origin_states_its_seeded_violations(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as work:
            meta = gen.cdm_origin(3, 20_000, work)
            t = pq.read_table(os.path.join(work, "origin", f"{gen.CDM_TABLE}.parquet"))
            big = sum(1 for s in t.column("v_text").to_pylist() if len(s) > gen.GUARDRAIL_KB * 1024)
            self.assertEqual(meta["guardrail_violations"], big)
            self.assertGreater(big, 0)
            attrs = t.schema.field("attrs").type
            self.assertEqual((str(attrs.key_type), str(attrs.item_type)), ("string", "int32"))
            self.assertEqual(t.num_rows, len(set(zip(t.column("pk_id").to_pylist(),
                                                     t.column("ck").to_pylist()))))


    def test_late_origin_injects_what_it_states(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as work:
            gen.cdm_origin(4, 4000, work, with_map=False)
            injected = gen.late_origin(4, work)

            def rows(d):
                t = pq.read_table(os.path.join(work, d, f"{gen.CDM_TABLE}.parquet")).to_pylist()
                return {(x.pop("pk_id"), x.pop("ck")): x for x in t if x["v_double"] >= gen.WHERE_MIN}

            origin, late = rows("origin"), rows("late")
            self.assertEqual(len(set(late) - set(origin)), injected["MISSING"])
            self.assertEqual(set(origin) - set(late), set())
            changed = [k for k in origin if origin[k] != late[k]]
            self.assertEqual(len(changed), injected["MISMATCH"])
            self.assertGreater(injected["MISSING"] * injected["MISMATCH"], 0)
            self.assertTrue(all(sum(origin[k][c] != late[k][c] for c in origin[k]) == 1 for k in changed))


class SamplerTest(unittest.TestCase):
    def test_deterministic_and_seed_dependent(self):
        self.assertEqual(gen.sample_queries(5, FAMILIES), gen.sample_queries(5, FAMILIES))
        self.assertNotEqual(gen.sample_queries(5, FAMILIES), gen.sample_queries(6, FAMILIES))

    def test_runs_share_the_queries_and_the_seed_orders_them(self):
        a, b = gen.operator_sample(5, FAMILIES, {}), gen.operator_sample(6, FAMILIES, {})
        self.assertEqual(a, gen.operator_sample(5, FAMILIES, {}))
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))
        self.assertEqual(sorted(a), sorted(gen.sample_queries(gen.SAMPLE_SEED, FAMILIES, {})))

    def test_one_pick_per_cost_stratum(self):
        names = sorted(q for qs in FAMILIES.values() for q in qs)
        costs = {q: float(j) for j, q in enumerate(names)}
        for seed in range(20):
            s = gen.sample_queries(seed, FAMILIES, costs)
            # 192 names in 16 strata of 12 consecutive ranks
            k = gen.SAMPLE_SIZE
            bounds = [int(x) for x in np.linspace(0, len(names), k + 1)]
            self.assertEqual(sorted(bisect.bisect_right(bounds, costs[q]) for q in s), list(range(1, k + 1)))

    def test_covers_all_twelve_families_first(self):
        owner = {q: f for f, qs in FAMILIES.items() for q in qs}
        for seed in range(50):
            s = gen.sample_queries(seed, FAMILIES)
            self.assertEqual(len(s), gen.SAMPLE_SIZE)
            self.assertEqual(len(s), len(set(s)))
            self.assertEqual({owner[q] for q in s[:12]}, set(FAMILIES))


class TailTest(unittest.TestCase):
    def test_nearest_rank_p75(self):
        self.assertEqual(layers.tail(list(range(1, 41))), (30, 75, 40))
        self.assertEqual(layers.tail(list(range(16, 0, -1))), (12, 75, 16))
        self.assertEqual(layers.tail([3.0]), (3.0, 75, 1))
        # the fixed op count of a run leaves at least three slower ops
        # beyond the tail
        for n in run.MIN_OPS.values():
            self.assertGreaterEqual(n - math.ceil(0.75 * n), 3)


READ_SITE = """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:330)
graft.io.TableIO$.read(TableIO.scala:51)
graft.io.TableIO$.read(TableIO.scala:81)
graft.jobs.Migrate$.plan(Migrate.scala:30)
graft.perfbench.CdmWorkload.job(BenchMain.scala:230)"""
WRITE_SITE = """org.apache.spark.sql.classic.DataFrameWriter.parquet(DataFrameWriter.scala:200)
graft.io.TableIO$.write(TableIO.scala:93)
graft.jobs.JobDispatch$.run(JobDispatch.scala:137)"""


def job(jid, t0, t1, details="", exec_id=None, span=None, **kw):
    j = {"id": jid, "t0_ms": t0, "t1_ms": t1, "details": details, "exec_id": exec_id, "span": span,
         "stages": 1, "tasks": 2, "cpu_s": 0.1, "run_s": 0.2, "wait_s": 0.0, "gc_s": 0.0,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "peak_exec_mem_bytes": 0, "input_bytes": 100, "output_bytes": 0, "output_records": 0}
    j.update(kw)
    return j


class AttributionTest(unittest.TestCase):
    def test_innermost_library_frame_names_the_module(self):
        self.assertEqual(layers.innermost_frame(READ_SITE), "graft.io.TableIO$.read")
        self.assertEqual(layers.module_of("graft.io.TableIO$.read"), "io")
        self.assertEqual(layers.module_of("graft.ext.Dedup$.minhash"), "ext")
        self.assertEqual(layers.module_of("graft.Main$.resolveConfig"), "main")

    def test_benchmark_frames_do_not_count(self):
        self.assertIsNone(layers.innermost_frame("graft.perfbench.BenchMain$.main(BenchMain.scala:1)"))
        self.assertIsNone(layers.module_of(None))

    def test_aqe_thread_job_links_through_its_execution(self):
        execs = {7: {"id": 7, "details": WRITE_SITE}}
        aqe = job(3, 0, 5, details="", exec_id=7)
        self.assertEqual(layers.job_frame(aqe, execs), "graft.io.TableIO$.write")
        self.assertIsNone(layers.job_frame(job(4, 0, 5, exec_id=8), execs))

    def test_op_layers(self):
        spans = [
            {"id": "0.0", "parent": None, "layer": "op", "name": "q", "t0_ms": 0, "t1_ms": 1000},
            {"id": "0.1", "parent": "0.0", "layer": "queries", "name": "build", "t0_ms": 0, "t1_ms": 400},
            {"id": "0.2", "parent": "0.0", "layer": "queries", "name": "action", "t0_ms": 400, "t1_ms": 1000},
        ]
        jobs = [
            job(1, 10, 60, READ_SITE, span="0.1"),
            job(2, 100, 300, "graft.ext.Dedup$.stage(Dedup.scala:9)", span="0.1"),
            job(3, 450, 900, "", exec_id=7, span="0.2", output_bytes=500),
        ]
        execs = [{"id": 7, "details": WRITE_SITE, "sql_ms": {"sort_ms": 12.0}, "scans": 2,
                  "write_paths": ["file:/w/target/t.parquet"]}]
        op = {"wall_s": 1.0, "spans": spans, "jobs": jobs, "execs": execs, "aux": {}}
        v = layers.op_layers(op, cores=4, origin_bytes=1000, corrected_rows=0)
        self.assertEqual((v["queries.build_jobs"], v["ext.build_jobs"], v["io.read_jobs"]), (2, 1, 1))
        self.assertAlmostEqual(v["ext.build_s"], 0.2)
        self.assertAlmostEqual(v["io.read_s"], 0.05)
        self.assertAlmostEqual(v["io.write_s"], 0.45)
        self.assertAlmostEqual(v["io.bytes_written_per_input_byte"], 0.5)
        self.assertAlmostEqual(v["io.bytes_read_per_input_byte"], 0.3)
        self.assertEqual((v["spark.jobs"], v["spark.tasks"], v["io.read_calls"]), (3, 6, 2))
        self.assertAlmostEqual(v["sql.sort_ms"], 12.0)
        self.assertAlmostEqual(v["spark.core_busy_frac"], 0.6 / 4)
        self.assertAlmostEqual(v["queries.build_s"], 0.4)
        # the same write, run by validate, is the autocorrect merge; the
        # diff report validate writes stays io
        validate = {"id": "0.3", "parent": "0.0", "layer": "jobs", "name": "validate", "t0_ms": 0, "t1_ms": 1000}
        corrected = dict(op, spans=spans + [validate], jobs=[dict(jobs[2], span="0.3")])
        v = layers.op_layers(corrected, 4, 1000, corrected_rows=10)
        self.assertAlmostEqual(v["ops.autocorrect_s"], 0.45)
        self.assertEqual(v["io.write_s"], 0.0)
        report = dict(corrected, execs=[dict(execs[0], write_paths=["file:/w/target/t_diff_report.parquet"])])
        v = layers.op_layers(report, 4, 1000, corrected_rows=10)
        self.assertEqual(v["ops.autocorrect_s"], 0.0)
        self.assertAlmostEqual(v["io.write_s"], 0.45)
        st = layers.self_times(op)
        self.assertAlmostEqual(st["queries.build"], 0.4 - 0.05 - 0.2)
        self.assertAlmostEqual(st["op.q"], 0.0)


class ProfDiffTest(unittest.TestCase):
    def test_names_the_metric_and_query_that_moved(self):
        names = [f"q{i}" for i in range(8)]

        def profile(q3):
            return {"workload": "operators", "traced_ops": names, "per_layer": {
                "queries.build_s": [q3 if n == "q3" else 0.1 * i for i, n in enumerate(names)],
                "spark.jobs": [5.0, 5.0, 6.0, 5.0, 5.0, 6.0, 5.0, 5.0]}}

        self.assertEqual(profdiff.moved(profile(0.3), profile(0.3)), [])
        rows = profdiff.moved(profile(0.3), profile(3.0))
        self.assertEqual([(r[0], r[4]) for r in rows], [("queries.build_s", "q3")])


if __name__ == "__main__":
    unittest.main()
