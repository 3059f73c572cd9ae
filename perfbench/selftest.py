"""Self-tests of the benchmark itself (no Spark needed).

Run from the root of a checkout:

    python3 perfbench/selftest.py

- the generator is seeded: the same seed gives byte-identical files, a
  different seed different ones;
- each reference check passes on a correct output built with DuckDB
  and fails on a deliberately perturbed one;
- self-time arithmetic on nested and concurrent spans;
- every metric name the run prints matches BENCHMARK.json;
- ``stop_processes`` ends children and orphaned grandchildren;
- the CPU-steal correction of the time metrics.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import time  # noqa: E402
import unittest  # noqa: E402

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for path in sorted(glob.glob(f"{root}/**/*.parquet", recursive=True)):
        with open(path, "rb") as f:
            out[os.path.relpath(path, root)] = f.read()
    return out


def _copy(con, sql: str, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


class Base(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(WORK, self.id().rsplit(".", 1)[-1])
        os.makedirs(self.dir)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


class GeneratorTest(Base):
    def _generate(self, seed: int, name: str) -> dict[str, bytes]:
        root = os.path.join(self.dir, name)
        gen.gen_cdc_initial(seed, f"{root}/landing")
        gen.gen_cdc_batch(seed, f"{root}/landing", 1)
        gen.gen_docs(seed, f"{root}/docs")
        return _files(root)

    def test_same_seed_same_bytes(self):
        a, b = self._generate(7, "a"), self._generate(7, "b")
        self.assertTrue(a)
        self.assertEqual(a, b)

    def test_other_seed_other_bytes(self):
        a, c = self._generate(7, "a"), self._generate(8, "c")
        self.assertEqual(a.keys(), c.keys())
        for name in a:
            self.assertNotEqual(a[name], c[name], name)


class CdcCheckTest(Base):
    def setUp(self):
        super().setUp()
        self.landing, self.out = f"{self.dir}/landing", f"{self.dir}/out"
        gen.gen_cdc_initial(3, self.landing)
        gen.gen_cdc_batch(3, self.landing, 1)
        gen.gen_cdc_batch(3, self.landing, 2)
        con = duckdb.connect()
        pq = reference._pq
        con.execute(f"""CREATE TABLE versions AS SELECT *,
            dense_rank() OVER (ORDER BY customer_id) AS customer_sk,
            row_number() OVER (PARTITION BY customer_id ORDER BY updated_at DESC) = 1 AS is_current
            FROM {pq(self.landing + '/customers')}""")
        _copy(con, "SELECT * FROM versions", f"{self.out}/dim_customer")
        _copy(con, f"""SELECT s.*, v.customer_sk FROM (
            {reference._last_write(self.landing, 'sales', 'sale_id')}) s
            JOIN versions v ON v.customer_id = s.customer_id AND v.is_current""",
              f"{self.out}/fact_sales")
        _copy(con, reference._last_write(self.landing, "products", "product_id"),
              f"{self.out}/dim_product")
        self.con = con

    def test_correct_output_passes(self):
        self.assertEqual(reference.check_cdc(self.landing, self.out), [])

    def test_perturbed_fact_fails(self):
        path = f"{self.out}/fact_sales/part-0.parquet"
        df = pd.read_parquet(path)
        df.loc[0, "amount"] += 1.0
        df.to_parquet(path)
        self.assertTrue(reference.check_cdc(self.landing, self.out))

    def test_missing_history_fails(self):
        _copy(self.con, "SELECT * FROM versions WHERE is_current",
              f"{self.out}/dim_customer")
        self.assertTrue(reference.check_cdc(self.landing, self.out))

    def test_semantic_frames(self):
        want = reference.semantic_reference(self.landing, ["revenue", "aov"], ["region"], None)
        self.assertEqual(reference.frames_match(want.copy(), want, ["region"]), [])
        bad = want.copy()
        bad.loc[0, "aov"] *= 1.001
        self.assertTrue(reference.frames_match(bad, want, ["region"]))
        self.assertTrue(reference.frames_match(want.iloc[1:], want, ["region"]))


class CurationCheckTest(Base):
    def setUp(self):
        super().setUp()
        self.inp, self.out = f"{self.dir}/input", f"{self.dir}/out"
        gen.gen_docs(5, self.inp)
        self.ref = reference.CurationReference(self.inp)
        self.text = f"replace(replace(text, chr(8203), ''), '{gen.MOJIBAKE_DASH}', '—')"

    def _write(self, where: str) -> list[str]:
        _copy(duckdb.connect(),
              f"SELECT doc_id, {self.text} AS text FROM {reference._pq(self.inp + '/docs')} d "
              f"JOIN {reference._pq(self.inp + '/labels')} l USING (doc_id) WHERE {where}",
              f"{self.out}/curated")
        return self.ref.check(self.out)

    def test_correct_output_passes(self):
        self.assertEqual(self._write("kind = 'base'"), [])

    def test_exact_duplicate_kept_fails(self):
        self.assertTrue(self._write("kind IN ('base', 'exact')"))

    def test_near_duplicates_kept_fail(self):
        errors = self._write("kind IN ('base', 'near')")
        self.assertTrue(any("recall" in e for e in errors), errors)

    def test_uncleaned_text_fails(self):
        self.text = "text"
        self.assertTrue(self._write("kind = 'base'"))


def _span(i, parent, t0, t1, layer="plans"):
    return tracing.Span(f"s{i}", layer, f"n{i}", parent, t0, t1)


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        spans = [_span(1, None, 0, 10), _span(2, "s1", 2, 5), _span(3, "s2", 3, 4)]
        got = tracing.self_times(spans, 0, 12)
        self.assertAlmostEqual(got["s1"], 7)
        self.assertAlmostEqual(got["s2"], 2)
        self.assertAlmostEqual(got["s3"], 1)
        # what no span covers is the op's unattributed time
        self.assertAlmostEqual(12 - sum(got.values()), 2)

    def test_concurrent_children_split_the_overlap(self):
        spans = [_span(1, None, 0, 10), _span(2, "s1", 1, 5), _span(3, "s1", 3, 7)]
        got = tracing.self_times(spans, 0, 10)
        self.assertAlmostEqual(got["s1"], 4)
        self.assertAlmostEqual(got["s2"], 2 + 1)
        self.assertAlmostEqual(got["s3"], 1 + 2)
        self.assertAlmostEqual(sum(got.values()), 10)

    def test_window_clips_spans(self):
        got = tracing.self_times([_span(1, None, -5, 5)], 0, 10)
        self.assertAlmostEqual(got["s1"], 5)


class StopProcessesTest(unittest.TestCase):
    def test_children_and_orphans_end(self):
        import subprocess

        run.become_subreaper()
        # the backgrounded sleep is orphaned when the shell is killed
        subprocess.Popen(["sh", "-c", "sleep 60 & exec sleep 60"])
        time.sleep(0.2)
        self.assertEqual(len(run.descendants(os.getpid())), 2)
        t0 = time.monotonic()
        run.stop_processes(grace_s=0.5)
        self.assertLess(time.monotonic() - t0, 5)
        self.assertEqual(run.descendants(os.getpid()), [])
        with self.assertRaises(ChildProcessError):
            os.waitpid(-1, os.WNOHANG)


class StealTest(unittest.TestCase):
    def test_unstolen(self):
        share = run.stolen_share((100, 10), (190, 20))
        self.assertAlmostEqual(share, 0.1)
        self.assertEqual(run.stolen_share((5, 5), (5, 5)), 0.0)
        self.assertEqual(run.unstolen([10.0, 4.0], [share, 0.0]), [9.0, 4.0])


class MetricNamesTest(Base):
    def setUp(self):
        super().setUp()
        with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end(self):
        got = run.end_to_end_metrics([1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0], 10, 5, 50, 100.0)
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)
        self.assertTrue(all(v != 0 for v, _ in got.values()))

    def test_per_layer(self):
        tracer = tracing.Tracer()
        tracer.ops.append((0.0, 2.0, [_span(1, None, 0.5, 1.5, "io.write")]))
        got = tracing.layer_metrics(tracer, self.dir, [2.0, 1.5], [True, False], 1.0,
                                  catalog_root=None, files_per_op=3.0)
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)
        self.assertEqual(set(tracing.metric_names()), set(want))
        self.assertAlmostEqual(got["io.write.self_s"][0] + got["unattributed_s"][0],
                               got["trace.op_s"][0])

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    try:
        unittest.main()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass  # a benchmark run is using it
