"""Self-tests for the benchmark's own code (no Spark needed).

    python3 -m unittest discover -s enginebench -p 'test_*.py'
"""

from __future__ import annotations

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import serving  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b = gen.Corpus(7, vocab_size=3000), gen.Corpus(7, vocab_size=3000)
        self.assertEqual(list(a.vocab), list(b.vocab))
        ta, tb = a.turns(500, 0, "c-"), b.turns(500, 0, "c-")
        self.assertTrue(ta.equals(tb))
        qa = gen.QueryGen(a, ta["text"].tolist(), 7, stream=1)
        qb = gen.QueryGen(b, tb["text"].tolist(), 7, stream=1)
        for route in ("plain", "phrase", "boolean", "facets"):
            self.assertEqual([getattr(qa, route)() for _ in range(20)],
                             [getattr(qb, route)() for _ in range(20)])

    def test_other_seed_other_inputs(self):
        a, b = gen.Corpus(7, vocab_size=3000), gen.Corpus(8, vocab_size=3000)
        self.assertNotEqual(list(a.turns(200, 0, "c-")["text"]),
                            list(b.turns(200, 0, "c-")["text"]))

    def test_shape(self):
        c = gen.Corpus(3, vocab_size=3000)
        self.assertEqual(len(set(c.vocab)), 3000)
        t = c.turns(1000, 0, "c-")
        self.assertEqual(len(t), 1000)
        self.assertFalse(t.duplicated(["conv_id", "turn_idx"]).any())
        # every turn of a conversation is numbered 0..n-1
        for _, g in t.groupby("conv_id"):
            self.assertEqual(sorted(g["turn_idx"]), list(range(len(g))))

    def test_markers_absent_from_vocab_and_planted(self):
        c = gen.Corpus(3, vocab_size=3000)
        a, b = gen.marker_terms(3, 1)
        self.assertNotIn(a, set(c.vocab))
        pdf, keys = gen.plant_markers(c.turns(300, 1, "a-"), 3, 1, every=50)
        self.assertEqual(len(keys), 6)
        hit = pdf[pdf["text"].str.contains(f"{a} {b}", regex=False)]
        self.assertEqual({(r.conv_id, r.turn_idx) for r in hit.itertuples()},
                         keys)

    def test_query_mix_has_head_and_tail_terms(self):
        c = gen.Corpus(5, vocab_size=3000)
        q = gen.QueryGen(c, c.turns(200, 0, "c-")["text"].tolist(), 5)
        rank = {w: i for i, w in enumerate(c.vocab)}
        terms = [t for _ in range(100) for t in q.plain().split()]
        self.assertTrue(any(rank[t] < q.HEAD for t in terms))
        self.assertTrue(any(rank[t] >= 3000 // 2 for t in terms))
        self.assertLess(len(set(terms)), len(terms))  # repeats: cache hits


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_tail_value_is_nearest_rank(self):
        p, v = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((p, v), (90, 90.0))
        self.assertEqual(stats.tail([1.0] * 5), (None, None))

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10.0] * 10), 0.0)
        self.assertGreater(stats.quartile_spread(
            [float(x) for x in range(1, 11)]), 0.5)


class FailedFracTest(unittest.TestCase):
    def test_arithmetic(self):
        self.assertEqual(stats.failed_frac(0, 17), 0.0)
        self.assertEqual(stats.failed_frac(1, 4), 0.25)
        self.assertEqual(stats.failed_frac(3, 3), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(5, 4)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        clock = FakeClock()
        tr = Tracer(clock)
        tr.enabled = True
        with tr.span("request"):
            clock.t = 1.0
            with tr.span("a"):
                clock.t = 3.0
            with tr.span("b"):
                clock.t = 4.0
            clock.t = 10.0
        st = dict(zip([s["name"] for s in tr.spans], self_times(tr.spans)))
        self.assertEqual(st, {"request": 7.0, "a": 2.0, "b": 1.0})
        self.assertEqual(tr.spans[1]["parent"], 0)

    def test_overlapping_children_counted_once(self):
        spans = [
            {"id": 0, "name": "p", "start": 0.0, "end": 10.0, "parent": None},
            {"id": 1, "name": "c", "start": 1.0, "end": 5.0, "parent": 0},
            {"id": 2, "name": "c", "start": 4.0, "end": 6.0, "parent": 0},
            # a child running past its parent is clipped to it
            {"id": 3, "name": "c", "start": 9.0, "end": 12.0, "parent": 0},
        ]
        self.assertEqual(self_times(spans)[0], 10.0 - 5.0 - 1.0)

    def test_disabled_tracer_records_nothing(self):
        tr = Tracer()
        ns = type("NS", (), {"f": staticmethod(lambda x: x + 1)})
        tr.wrap(ns, "f", "layer.f")
        self.assertEqual(ns.f(1), 2)
        self.assertEqual(tr.spans, [])
        tr.enabled = True
        tr.request_id = "req-0"
        self.assertEqual(ns.f(2), 3)
        self.assertEqual([(s["name"], s["request"]) for s in tr.spans],
                         [("layer.f", "req-0")])
        tr.unwrap_all()
        self.assertEqual(ns.f.__name__, "<lambda>")

    def test_dump_writes_one_line_per_span(self):
        import tempfile

        clock = FakeClock()
        tr = Tracer(clock)
        tr.enabled = True
        with tr.span("x", k=1):
            clock.t = 2.0
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "spans.jsonl")
            tr.dump(path)
            with open(path, encoding="utf-8") as f:
                rows = [json.loads(line) for line in f]
        self.assertEqual(rows[0]["self"], 2.0)
        self.assertEqual(rows[0]["attrs"], {"k": 1})

    def test_span_cost_leaves_no_trace(self):
        clock = FakeClock()
        tr = Tracer(clock)
        with tr.span("kept"):
            pass
        self.assertEqual(tr.span_cost(n=10), 0.0)  # the fake clock stands still
        self.assertEqual((tr.spans, tr._patches, tr.enabled), ([], [], False))


class ClosedLoopTest(unittest.TestCase):
    def test_feed_and_sink_stamp_each_request(self):
        clock = FakeClock()
        feed = serving.Feed([("plain", "a b"), ("phrase", "c d", 30)], k=10,
                            clock=clock)
        sink = serving.Sink(clock)
        for line in feed:  # what serve_loop does, one line at a time
            req = json.loads(line)
            clock.t += 0.5
            sink.write(json.dumps({"query": req["query"], "k": req["k"]}))
            sink.write("\n")
            clock.t += 0.25
        self.assertEqual(feed.routes, ["plain", "phrase"])
        self.assertEqual([o - i for i, o in zip(feed.t_in, sink.t_out)],
                         [0.5, 0.5])
        self.assertEqual([r["k"] for r in sink.responses], [10, 30])
        self.assertTrue(json.loads(serving.request_line("phrase", "x", 3))
                        ["phrase"])


class RankingCheckTest(unittest.TestCase):
    def test_same_ranking(self):
        import workloads as w

        a = [(1, 2.0), (5, 1.0)]
        self.assertTrue(w.same_ranking(a, [(1, 2.0 + 1e-13), (5, 1.0)]))
        self.assertFalse(w.same_ranking(a, [(5, 2.0), (1, 1.0)]))
        self.assertFalse(w.same_ranking(a, [(1, 2.1), (5, 1.0)]))
        self.assertFalse(w.same_ranking(a, a[:1]))


if __name__ == "__main__":
    unittest.main()
