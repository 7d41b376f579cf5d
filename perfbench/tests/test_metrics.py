import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))          # 1..100
        v, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)            # 91..100 lie beyond it
        self.assertEqual(sum(x > v for x in xs), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0] * 5
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_never_below_the_median(self):
        # 12 samples: index 1 has 10 beyond it, but that is a p17
        self.assertEqual(metrics.tail([float(i) for i in range(12)]),
                         (5.5, 50.0, 12))
        # 22 samples: index 11 (p54.5) is the first real tail
        v, pct, n = metrics.tail([float(i) for i in range(22)])
        self.assertEqual((v, n), (11.0, 22))
        self.assertAlmostEqual(pct, 100 * 12 / 22)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


def _op(name, build, exec_, ok=True, module="sql", layers=None):
    op = {"name": name, "module": module, "build_s": build, "exec_s": exec_,
          "ok": ok, "residual_rdds": 0}
    if not ok:
        op["error"] = "boom"
    if layers is not None:
        op["layers"] = layers
    return op


def _raw(passes):
    return {"workload": "w", "seed": "1", "cores": "4", "setup_s": [3, 1, 2],
            "passes": passes, "stream_probe_s": 0.0, "input_docs": "0",
            "context": {"loadavg_1m": {"start": 0, "end": 0},
                        "calibration_s": {"start": 0.1, "end": 0.1}}}


class Record(unittest.TestCase):
    def test_end_to_end(self):
        def p(cold, scale, traced=False, ok=True):
            return {"cold": cold, "traced": traced, "heap_mb": 10 * scale,
                    "ops": [_op("a", 0.1 * scale, 0.2 * scale),
                            _op("b", 0.3 * scale, 0.4 * scale, ok=ok)]}
        rec = metrics.record(_raw([p(True, 3), p(False, 1), p(False, 2),
                                   p(False, 1, ok=False)]), trace=False)
        e = rec["end_to_end"]
        self.assertEqual(e["setup_s"], 2)
        self.assertAlmostEqual(e["cold_pass_s"], 3.0)
        self.assertAlmostEqual(e["pass_s"], 1.0)
        # per-op minima over the steady passes: the 2x pass is ignored
        self.assertAlmostEqual(e["ops_per_s"], 2 / 1.0)
        self.assertEqual(e["peak_heap_mb"], 30)
        self.assertEqual((rec["attempted"], rec["failed"]), (8, 1))
        self.assertFalse(rec["correct"])
        self.assertEqual(rec["failures"], [{"op": "b", "error": "boom"}])
        self.assertEqual(set(rec["metrics"]), set(metrics.END_TO_END_UNITS))

    def test_final_check_counts_as_an_operation(self):
        p = {"cold": False, "traced": False, "heap_mb": 1,
             "ops": [_op("a", 0.1, 0.1)]}
        raw = dict(_raw([dict(p, cold=True), p, p]),
                   final_check={"ok": False, "error": "bad spans"})
        rec = metrics.record(raw, trace=False)
        self.assertEqual((rec["attempted"], rec["failed"]), (4, 1))
        self.assertEqual(rec["failures"],
                         [{"op": "final_check", "error": "bad spans"}])

    def test_per_layer(self):
        lay = {"exec.jobs": 2.0, "shuffle.write_mb": 1.5,
               "shuffle.peak_stage_mb": 1.0}
        def p(traced):
            return {"cold": False, "traced": traced, "heap_mb": 1,
                    "peak_storage_mb": 4.0,
                    "ops": [_op("curate", 0, 2.0, module="dedup",
                                layers=lay if traced else None),
                            _op("g", 0.5, 0.5, module="graph",
                                layers=lay if traced else None)]}
        rec = metrics.record(_raw([dict(p(False), cold=True), p(False),
                                   p(True)]), trace=True)
        m = {k: v["value"] for k, v in rec["metrics"].items()}
        self.assertEqual(set(m), set(metrics.PER_LAYER_UNITS))
        self.assertEqual(m["exec.jobs"], 4.0)
        self.assertEqual(m["shuffle.peak_stage_mb"], 1.0)
        self.assertEqual(m["curate.s"], 2.0)
        self.assertEqual(m["curate.shuffle_mb"], 1.5)
        self.assertEqual(m["graph.build_s"], 0.5)
        self.assertEqual(m["dedup.exec_s"], 2.0)
        self.assertEqual(m["cache.peak_storage_mb"], 4.0)
        self.assertEqual(m["trace.overhead_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
