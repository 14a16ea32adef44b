#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no Spark session needed).

    python3 perfbench/selftest.py

* every metric the benchmark can print is declared in BENCHMARK.json,
  with the unit it prints;
* each output check accepts the expected result and rejects a
  deliberately perturbed one.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m for m in json.load(fh)[kind]}


class _FakeTracer:
    """Just enough of ``sparkstats.Tracer`` for ``run._layer_metrics``."""

    def __init__(self):
        self.spans = []

    def add(self, name, parent=None, dur=1.0):
        sp = {"name": name, "id": len(self.spans),
              "parent": None if parent is None else parent["id"],
              "start": 0.0, "end": dur, "jvm_read_bytes": 10 ** 8,
              "spark": {"jobs": 3, "tasks": 6, "run_s": 1.0, "cpu_s": 0.5,
                        "gc_s": 0.1, "input_bytes": 10, "input_records": 20,
                        "output_bytes": 10 ** 7, "shuffle_read": 5,
                        "shuffle_write": 5,
                        "stage_records": [{"input_records": 20}]}}
        self.spans.append(sp)
        return sp

    def close(self, sp):
        return sp


class _Wl:
    def __init__(self, name):
        self.name, self.items, self.payload_disk = name, 10, 10 ** 8


class MetricsDeclared(unittest.TestCase):
    def _layers(self, name, children, probes, out):
        tr = _FakeTracer()
        sp = tr.add("pass")
        for c in children:
            tr.add(c, sp)
        pr = {p: tr.add(p) for p in probes}
        return set(run._layer_metrics(_Wl(name), tr, (sp, out), pr))

    def test_per_layer_metrics_are_declared(self):
        got = set(run.TRACED_EXTRA)
        got |= self._layers(
            "audio_suite", ["suite.compile", "suite.emit"],
            ["sources.scan", "audio.decode_info", "engine.row_rules",
             "engine.unique", "engine.codec_set", "engine.manifest_subset",
             "engine.ref_match"], {"cache_bytes": 1})
        got |= self._layers("audio_curate", ["audio.prepare", "audio.card"],
                            [], {"chunks": 1})
        got |= self._layers(
            "table_append",
            ["checkpoint.first", "checkpoint.resume",
             "checkpoint.noop_resume", "stats.profile", "stats.merge"],
            ["engine.compile"], {})
        self.assertEqual(got, set(_declared("per_layer")))

    def test_setup_metric(self):
        decl = _declared("end_to_end")
        self.assertEqual(decl["setup_s"]["unit"], "s")
        self.assertEqual(decl["setup_s"]["better"], "lower")
        self.assertEqual(max(m["bound"] for m in decl.values()),
                         decl["setup_s"]["bound"])


def _facts(start, n):
    return [inputs.clip_row(i)[1] for i in range(start, start + n)]


class SuiteCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        start = inputs.window_start(5)
        cls.exp = [tuple(r) for r in
                   inputs.suite_expected(_facts(start, 1200), start, 1200)]

    def test_accepts_expected(self):
        self.assertEqual(len({r[0] for r in self.exp}), 8)
        self.assertEqual(checks.check_suite(list(reversed(self.exp)),
                                            self.exp), [])

    def test_rejects_perturbed(self):
        rows = [list(r) for r in self.exp]
        dev = next(r for r in rows if r[6] is not None)
        perturbed = {
            "dropped row": [tuple(r) for r in rows[1:]],
            "extra row": self.exp + [self.exp[0]],
            "deviation": [tuple(r[:6] + [r[6] + 1] + r[7:]) if r is dev
                          else tuple(r) for r in rows],
            "partition": [tuple(r[:8] + ["99"]) if r is rows[-1]
                          else tuple(r) for r in rows],
        }
        for what, got in perturbed.items():
            with self.subTest(what):
                self.assertTrue(checks.check_suite(got, self.exp))


class CurateChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        from datatest_spark.audio import SILENCE_THRESHOLD

        start = inputs.window_start(5)
        cls.exp = [r for i in range(start + 10, start + 14)
                   for r in inputs.prepare_expected(
                       i, SILENCE_THRESHOLD, inputs.PREPARE_WINDOW_MS)]

    def test_prepare(self):
        self.assertEqual(checks.check_prepare(self.exp[::-1], self.exp), [])
        sha = copy.deepcopy(self.exp)
        sha[0][7] = "0" * 64
        gain = copy.deepcopy(self.exp)
        gain[-1][6] += 1e-6
        for what, got in {"sha": sha, "gain": gain,
                          "dropped": self.exp[1:]}.items():
            with self.subTest(what):
                self.assertTrue(checks.check_prepare(got, self.exp))

    def test_card(self):
        card = [{"codec": "__all__", "n_clips": 10, "n_undecodable": 1},
                {"codec": "flac", "n_clips": 4, "n_undecodable": 0},
                {"codec": "opus", "n_clips": 6, "n_undecodable": 1}]
        self.assertEqual(checks.check_card(card, 10, 1), [])
        self.assertTrue(checks.check_card(card, 11, 1))
        self.assertTrue(checks.check_card(card, 10, 2))


class TableChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import duckdb

        cls.dir = os.path.join(inputs.WORK, "selftest")
        shutil.rmtree(cls.dir, ignore_errors=True)
        os.makedirs(os.path.join(cls.dir, "lineitem"))
        con = duckdb.connect()
        con.execute("SET enable_progress_bar=false")
        con.execute("CALL dbgen(sf=0.002)")
        con.execute(f"COPY (SELECT *, CAST(l_orderkey % 4 AS INTEGER) AS "
                    f"part_id FROM lineitem) TO '{cls.dir}/lineitem/"
                    f"part-0.parquet' (FORMAT PARQUET)")
        cls.orders = f"{cls.dir}/orders.parquet"
        con.execute(f"COPY (SELECT * FROM orders WHERE o_orderkey % 7 <> 0) "
                    f"TO '{cls.orders}' (FORMAT PARQUET)")
        con.close()
        cls.exp = checks.table_expected(os.path.join(cls.dir, "lineitem"),
                                        cls.orders, [0, 2], [1, 3])

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_verdicts(self):
        v = self.exp["verdicts"]
        self.assertEqual(len(v), 6)  # 4 partitions + 2 global buckets
        self.assertEqual(checks.check_verdicts(v[::-1], v), [])
        flip = copy.deepcopy(v)
        flip[0][1] = not flip[0][1]
        count = copy.deepcopy(v)
        count[1][7] += 1
        for what, got in {"passed": flip, "n_invalid": count,
                          "dropped": v[1:]}.items():
            with self.subTest(what):
                self.assertTrue(checks.check_verdicts(got, v))

    def test_resume(self):
        class R:
            def __init__(self, processed, skipped):
                self.processed_partitions = processed
                self.skipped_partitions = skipped

        first, resume = R(["0", "2"], []), R(["1", "3"], ["0", "2"])
        noop = R([], ["0", "1", "2", "3"])
        self.assertEqual(checks.check_resume(first, resume, noop, [0, 2],
                                             [1, 3]), [])
        self.assertTrue(checks.check_resume(first, R(["0", "1", "2", "3"],
                                                     []), noop, [0, 2],
                                            [1, 3]))

    def test_profile(self):
        merged = []
        for c, e in self.exp["profile"].items():
            merged.append({
                "column_name": c, "row_count": e["row_count"],
                "non_null": e["non_null"], "min_v": e["min_v"],
                "max_v": e["max_v"], "sum_v": e["sum_v"],
                "distinct_est": e["distinct"], "hist": e["hist"],
                "tdigest": [{"mean": e["median"],
                             "weight": float(e["non_null"])}]})
        self.assertEqual(checks.check_profile(merged, self.exp["profile"]),
                         [])
        for key, bump in (("sum_v", 1.0), ("row_count", 1),
                          ("distinct_est", 1000)):
            bad = copy.deepcopy(merged)
            bad[0][key] += bump
            with self.subTest(key):
                self.assertTrue(checks.check_profile(bad,
                                                     self.exp["profile"]))
        bad = copy.deepcopy(merged)
        i = next(k for k, m in enumerate(bad) if m["hist"])
        bad[i]["hist"][0] += 1
        self.assertTrue(checks.check_profile(bad, self.exp["profile"]))


if __name__ == "__main__":
    unittest.main()
