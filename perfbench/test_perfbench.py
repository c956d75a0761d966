"""Tests for the benchmark's own helpers: the tail-percentile rule,
self-time arithmetic, byte accounting and generator determinism.

    python3 -m unittest perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
import metrics as M  # noqa: E402


class TailRule(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        self.assertEqual(M.tail_rank(100), 90)
        self.assertEqual(M.tail_pct(100), 90.0)
        self.assertEqual(M.tail_rank(40), 30)
        self.assertEqual(M.tail_pct(40), 75.0)
        self.assertEqual(M.tail_rank(11), 1)

    def test_undefined_at_ten_or_fewer(self):
        self.assertIsNone(M.tail_rank(10))
        self.assertIsNone(M.tail_value(list(range(10))))

    def test_value_has_exactly_ten_above(self):
        xs = list(range(100, 0, -1))
        v = M.tail_value(xs)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 2, 3]), 2.5)

    def test_interquartile_mean_drops_a_quarter_at_each_end(self):
        self.assertEqual(M.interquartile_mean([100, 1, 2, 3, 4, 5, 6, -50]), 3.5)
        self.assertEqual(M.interquartile_mean([7, 1, 4]), 4)
        self.assertIsNone(M.interquartile_mean([]))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_when_overlapping(self):
        s = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50)]
        st = M.self_times(s)
        self.assertEqual(st[1], 60)   # 100 - |[10,50)|
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 30)

    def test_grandchildren_count_against_their_parent_only(self):
        s = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 2, 20, 40)]
        st = M.self_times(s)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 20)

    def test_children_clipped_to_parent(self):
        s = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(M.self_times(s)[1], 90)

    def test_self_times_sum_to_root_duration(self):
        s = [span(1, 0, 0, 1000), span(2, 1, 100, 400), span(3, 1, 500, 900),
             span(4, 3, 600, 700)]
        self.assertEqual(sum(M.self_times(s).values()), 1000)


class ByteAccounting(unittest.TestCase):
    def test_log_files_of_all_three_formats(self):
        with tempfile.TemporaryDirectory() as d:
            for name in ("a/part-0.parquet", "a/_graft_log/00000.json",
                         "a/_graft_log/00010.checkpoint.parquet", "b/_delta_log/00000.json",
                         "b/_delta_log/.00000.json.crc", "c/metadata/v1.metadata.json"):
                os.makedirs(os.path.dirname(os.path.join(d, name)), exist_ok=True)
                open(os.path.join(d, name), "w").close()
            self.assertEqual(layers.log_files(d), 4)

    def test_bytes_per_live_byte(self):
        self.assertAlmostEqual(M.bytes_per_live_byte(300, 100), 3.0)
        self.assertTrue(M.bytes_per_live_byte(300, 0) != M.bytes_per_live_byte(300, 0))  # NaN

    def test_user_bytes(self):
        self.assertEqual(M.user_bytes([[1, 2, "abc"], [3, 4, ""]]), 23 + 20)


def digest_dir(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    def test_lakehouse_stream(self):
        a = gen.lakehouse(7, 2)
        self.assertEqual(json.dumps(a), json.dumps(gen.lakehouse(7, 2)))
        self.assertNotEqual(json.dumps(a), json.dumps(gen.lakehouse(8, 2)))

    def test_same_seed_same_inputs_across_processes(self):
        # string hashing is randomized per process: inputs must not depend on it
        import subprocess
        code = ("import gen, hashlib, json; "
                "print(hashlib.sha256(json.dumps(gen.lakehouse(7, 2))"
                ".encode()).hexdigest())")
        here = os.path.dirname(os.path.abspath(__file__))
        digests = {subprocess.run([sys.executable, "-c", code], cwd=here, capture_output=True, text=True,
                                  env=dict(os.environ, PYTHONHASHSEED=str(h))).stdout for h in (1, 2)}
        self.assertEqual(len(digests), 1)

    def test_warm_up_ops_touch_distinct_tables(self):
        # the harness runs the warm-up block concurrently
        for seed in range(20):
            _, ops = gen.lakehouse(seed, 1)
            warm = ops[:len(gen.LH_WARM)]
            self.assertEqual(len({op["table"] for op in warm}), len(warm))

    def test_lakehouse_model_matches_stream_expectations(self):
        init, ops = gen.lakehouse(7, 2)
        model = gen.LakehouseModel(init)
        for op in ops:
            self.assertEqual(model.expect(op), op["expect"])
            model.apply(op)

    def test_analytic_layout(self):
        tables = gen.analytic_tables(sf=0.001)
        with tempfile.TemporaryDirectory() as d:
            for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.write_analytic(os.path.join(d, sub), seed, tables)
            self.assertEqual(digest_dir(os.path.join(d, "a")), digest_dir(os.path.join(d, "b")))
            self.assertNotEqual(digest_dir(os.path.join(d, "a")), digest_dir(os.path.join(d, "c")))

    def test_analytic_content_is_seed_independent(self):
        import pyarrow.parquet as pq
        tables = gen.analytic_tables(sf=0.001)
        with tempfile.TemporaryDirectory() as d:
            for seed in (7, 8):
                gen.write_analytic(os.path.join(d, str(seed)), seed, tables)
            for name in gen.ANALYTIC_TABLES:
                keys = [(c, "ascending") for c in tables[name].column_names[:1]]
                if name == "lineitem":
                    keys.append(("l_linenumber", "ascending"))
                a, b = (pq.read_table(os.path.join(d, str(s), f"{name}.parquet")).sort_by(keys)
                        for s in (7, 8))
                self.assertTrue(a.equals(b), name)


if __name__ == "__main__":
    unittest.main()
