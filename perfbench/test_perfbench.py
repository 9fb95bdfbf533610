"""The benchmark's own tests: generator determinism, the output checker
and the comparison tool.

    python3 perfbench/test_perfbench.py
"""

import json
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        a = gen.corpus_arrays(5)
        b = gen.corpus_arrays(5)
        for x, y in zip(a, b):
            np.testing.assert_array_equal(np.asarray(x), np.asarray(y))
        ids = a[0]
        self.assertEqual(gen.ingest_ops(5, 4, ids), gen.ingest_ops(5, 4, ids))
        self.assertEqual(gen.batch_ops(5), gen.batch_ops(5))

    def test_other_seed_other_inputs(self):
        self.assertFalse(np.array_equal(gen.corpus_arrays(5)[1], gen.corpus_arrays(6)[1]))
        ids = gen.corpus_arrays(5)[0]
        self.assertNotEqual(gen.ingest_ops(5, 4, ids), gen.ingest_ops(6, 4, ids))
        self.assertNotEqual(gen.batch_ops(5), gen.batch_ops(6))

    def test_written_inputs_are_byte_identical(self):
        d = tempfile.mkdtemp()
        try:
            sizes = gen.write_corpus(os.path.join(d, "a"), 3)
            gen.write_corpus(os.path.join(d, "b"), 3)
            self.assertEqual(sizes, {"vectors": 2000, "documents": 5000})
            gen.write_tables(os.path.join(d, "ta"), gen.batch_tables())
            gen.write_tables(os.path.join(d, "tb"), gen.batch_tables())
            files = [os.path.join(x, t + ".parquet") for x, t in
                     [("a", "embeddings"), ("a", "documents")]
                     + [("ta", t) for t in gen.batch_tables()]]
            for f in files:
                with open(os.path.join(d, f), "rb") as x, \
                        open(os.path.join(d, f.replace("a", "b", 1)), "rb") as y:
                    self.assertEqual(x.read(), y.read(), f)
        finally:
            shutil.rmtree(d)

    def test_batch_tables_have_the_fixture_shape(self):
        t = gen.batch_tables()
        self.assertEqual(sorted(t), sorted(["lineitem", "orders", "customer", "part",
                                            "supplier", "nation", "region", "events",
                                            "embeddings", "documents"]))
        for name, rows in gen.SF001.items():
            self.assertEqual(t[name].num_rows, rows, name)
        self.assertEqual(str(t["events"].schema.field("ts").type), "timestamp[us]")
        ts = t["events"]["ts"].to_numpy()
        self.assertTrue((np.diff(ts.astype(np.int64)) >= 0).all())

    def test_batch_ops_run_every_query_once_per_pass(self):
        ops = gen.batch_ops(7, 3)
        n = len(gen.BATCH_QUERIES)
        self.assertEqual(len(ops), 3 * n)
        for p in range(3):
            one = ops[p * n:(p + 1) * n]
            self.assertEqual(sorted(o["query"] for o in one), sorted(gen.BATCH_QUERIES))
            self.assertEqual([o["end"] for o in one], [False] * (n - 1) + [True])
            self.assertTrue(all(o["pass"] == p and o["warm"] == (p == 0) for o in one))

    def test_ingest_stream_deletes_only_live_ids(self):
        ids = gen.corpus_arrays(2)[0]
        live = set(ids.tolist())
        ops = gen.ingest_ops(2, 6, ids)
        kinds = [o["op"] for o in ops]
        cycle = ["search"] * gen.CYCLE_SINGLES + ["batch", "ingest"]
        warm = ["search"] * gen.WARM_SINGLES + ["ingest"]
        self.assertEqual(kinds[:len(warm) + len(cycle)], warm + cycle)
        self.assertEqual([o.get("warm", False) for o in ops[:len(warm) + 1]],
                         [True] * len(warm) + [False])
        self.assertFalse(any(o.get("warm") for o in ops[len(warm):]))
        self.assertEqual(sum("filter" in o for o in ops[len(warm):len(warm) + len(cycle)]),
                         gen.CYCLE_SINGLES // gen.FILTER_EVERY)
        corrections = 0
        for o in ops:
            if o["op"] != "ingest":
                continue
            self.assertEqual(len(o["dels"]), gen.INGEST_DELS)
            self.assertTrue(set(o["dels"]) <= live)
            live -= set(o["dels"])
            put_ids = [p["id"] for p in o["puts"]]
            corrections += len(set(put_ids) & set(o["dels"]))
            live |= set(put_ids)
        self.assertGreater(corrections, 0)


def toy_model():
    ids = np.array([0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11], dtype=np.int64)
    r = np.random.Generator(np.random.PCG64(0))
    vecs = r.standard_normal((12, 4)).astype(np.float32)
    labels = np.array([0, 1] * 6)
    texts = ["doc %d" % i for i in range(12)]
    return check.LiveCorpus(ids, vecs, labels, texts), vecs


def served(model, q, flt=None, k=10):
    rows, sc = model.scores(q, flt)
    order = sorted(zip(sc.tolist(), model.ids[rows].tolist()), key=lambda t: (-t[0], t[1]))[:k]
    return [{"doc_id": i, "text": model.text(i), "score": s} for s, i in order]


def rpc(id_, hits):
    text = json.dumps(hits) if hits else "No results found."
    return json.dumps({"jsonrpc": "2.0", "id": id_, "result": {
        "content": [{"type": "text", "text": text}], "isError": False}})


class CheckerTest(unittest.TestCase):

    def setUp(self):
        self.model, self.vecs = toy_model()
        self.q = [1.0, 0.5, -0.2, 0.1]

    def test_exact_answer_passes_with_full_recall(self):
        probs, recall = check.check_hits(self.model, served(self.model, self.q), self.q, None)
        self.assertEqual(probs, [])
        self.assertEqual(recall, 1.0)

    def test_rejects_wrong_score(self):
        hits = served(self.model, self.q)
        hits[3]["score"] += 0.01
        probs, _ = check.check_hits(self.model, hits, self.q, None)
        self.assertTrue(any("scored" in p for p in probs), probs)

    def test_rejects_unsorted_hits(self):
        hits = served(self.model, self.q)
        hits[0], hits[1] = hits[1], hits[0]
        probs, _ = check.check_hits(self.model, hits, self.q, None)
        self.assertTrue(any("score-descending" in p for p in probs), probs)

    def test_rejects_missing_hits(self):
        probs, _ = check.check_hits(self.model, served(self.model, self.q)[:7], self.q, None)
        self.assertTrue(any("7 hits" in p for p in probs), probs)

    def test_rejects_deleted_and_filtered_out_ids(self):
        hits = served(self.model, self.q)
        self.model.apply([], [], [hits[0]["doc_id"]])
        probs, _ = check.check_hits(self.model, hits, self.q, None)
        self.assertTrue(any("not live" in p for p in probs), probs)
        hits = served(self.model, self.q, {"label": 1})
        hits[0] = dict(hits[0], doc_id=0, text="doc 0")
        probs, _ = check.check_hits(self.model, hits, self.q, {"label": 1})
        self.assertTrue(any("doc 0 is not live or does not match" in p for p in probs), probs)

    def test_rejects_wrong_text_and_malformed_hit(self):
        hits = served(self.model, self.q)
        hits[2]["text"] = "other"
        hits.append({"doc_id": 1})
        probs, _ = check.check_hits(self.model, hits, self.q, None)
        self.assertTrue(any("wrong text" in p for p in probs), probs)
        self.assertTrue(any("malformed" in p for p in probs), probs)

    def test_recall_counts_a_true_neighbour_swapped_out(self):
        hits = served(self.model, self.q, k=12)
        kept = hits[:9] + [hits[11]]
        probs, recall = check.check_hits(self.model, kept, self.q, None)
        self.assertEqual(probs, [])
        self.assertAlmostEqual(recall, 0.9)

    def test_puts_and_same_batch_correction(self):
        v = [1.0, 0.5, -0.2, 0.1]
        self.model.apply([{"id": 100, "text": "new", "label": 0}], [v], [])
        top = served(self.model, self.q)[0]
        self.assertEqual(top["doc_id"], 100)
        self.model.apply([{"id": 100, "text": "fixed", "label": 0}], [[-1.0, 0, 0, 0]], [100])
        self.assertEqual(self.model.text(100), "fixed")
        self.assertNotEqual(served(self.model, self.q)[0]["doc_id"], 100)
        self.assertEqual(self.model.delta_rows_live(), 1)

    def test_check_run_counts_every_miss(self):
        ops = [{"op": "search", "prompt": "p"}, {"op": "search", "prompt": "p"},
               {"op": "batch", "prompts": ["p", "p"]}, {"op": "search", "prompt": "p"}]
        good = served(self.model, self.q)
        recs = [
            {"i": 0, "resp": rpc(1, good), "qvecs": [self.q]},
            {"i": 1, "resp": rpc(1, good), "qvecs": [self.q]},  # wrong id
            {"i": 2, "resp": json.dumps({"jsonrpc": "2.0", "id": 3, "result": {
                "content": [{"type": "text", "text": json.dumps([good])}], "isError": False}}),
             "qvecs": [self.q, self.q]},  # one answer for two prompts
            {"i": 3, "resp": "not json", "qvecs": [self.q]},
        ]
        failed, recalls = check.check_run(self.model, ops, recs)
        self.assertEqual(sorted(failed), [1, 2, 3])
        self.assertEqual(recalls[0], [1.0])


class BatchCheckTest(unittest.TestCase):

    ref = {"q1": {"rows": 3, "hash": "aa"}, "q2": {"rows": 0, "hash": "bb"}}

    def rec(self, i, q, warm=True, **kw):
        r = {"i": i, "query": q, "warm": warm}
        r.update(kw)
        return r

    def test_matching_answers_pass(self):
        recs = [self.rec(0, "q1", rows=3, hash="aa"), self.rec(1, "q2", rows=0, hash="bb"),
                self.rec(2, "q1", warm=False), self.rec(3, "q2", warm=False)]
        self.assertEqual(check.check_batch(self.ref, ["q1", "q2"], recs), {})

    def test_rejects_wrong_rows_errors_and_missing_queries(self):
        recs = [self.rec(0, "q1", rows=3, hash="ab"),
                self.rec(1, "q1", warm=False, error="boom")]
        failed = check.check_batch(self.ref, ["q1", "q2"], recs)
        self.assertEqual(sorted(failed), [-2, 0, 1])
        self.assertIn("reference", failed[0])
        self.assertIn("boom", failed[1])
        self.assertIn("q2 never ran", failed[-2])


def result(metrics, correct=True, failed=0):
    return json.dumps({"correct": correct, "attempted": 10, "failed": failed,
                       "metrics": {k: {"value": v, "unit": "ms"} for k, v in metrics.items()}})


class CompareTest(unittest.TestCase):

    spec = {"lat": {"name": "lat", "better": "lower", "bound": 0.1},
            "rate": {"name": "rate", "better": "higher", "bound": 0.1}}

    def write_set(self, d, values, extra=""):
        os.makedirs(d)
        for n, (lat, rate) in enumerate(values):
            with open(os.path.join(d, "w__seed%d.out" % n), "w") as f:
                f.write("workload w\n" + extra + result({"lat": lat, "rate": rate}) + "\n")

    def run_compare(self, base, new, extra_new=""):
        d = tempfile.mkdtemp()
        try:
            self.write_set(os.path.join(d, "a"), base)
            self.write_set(os.path.join(d, "b"), new, extra_new)
            rows, plans = compare.compare(compare.load_set(os.path.join(d, "a")),
                                          compare.load_set(os.path.join(d, "b")), self.spec)
            return {m: v for _, m, v, _ in rows}, plans
        finally:
            shutil.rmtree(d)

    def test_verdicts(self):
        base = [(100 + i % 3, 50 + i % 2) for i in range(10)]
        v, _ = self.run_compare(base, [(70 + i % 3, 50 + i % 2) for i in range(10)])
        self.assertEqual(v["lat"], "better")
        self.assertEqual(v["rate"], "same")
        v, _ = self.run_compare(base, [(130 + i % 3, 40 + i % 2) for i in range(10)])
        self.assertEqual(v, {"lat": "worse", "rate": "worse"})
        noisy = [(100 + 40 * (i % 2), 50) for i in range(10)]
        v, _ = self.run_compare(base, noisy)
        self.assertEqual(v["lat"], "unresolved")

    def test_win_rate_counts_ties_for_neither(self):
        v, fig = compare.verdict([1, 2, 3, 4], [1, 2, 3, 3], "lower", 0.5)
        self.assertEqual(fig["win_rate"], 0.25)

    def test_unparseable_run_fails_loudly(self):
        d = tempfile.mkdtemp()
        try:
            with open(os.path.join(d, "w__seed0.out"), "w") as f:
                f.write("Traceback (most recent call last):\n  boom\n")
            with self.assertRaises(compare.BadRun):
                compare.load_set(d)
        finally:
            shutil.rmtree(d)

    def test_rejected_run_fails_loudly(self):
        d = tempfile.mkdtemp()
        try:
            for n, (correct, failed) in enumerate([(False, 0), (True, 2)]):
                sub = os.path.join(d, str(n))
                os.makedirs(sub)
                with open(os.path.join(sub, "w__seed0.out"), "w") as f:
                    f.write(result({"lat": 1.0}, correct, failed) + "\n")
                with self.assertRaises(compare.BadRun):
                    compare.load_set(sub)
        finally:
            shutil.rmtree(d)

    def test_plan_sort_names_moved_queries(self):
        base = {"q1": {"hash": "a"}, "q2": {"hash": "b"}}
        self.assertEqual(compare.plan_change(base, dict(base)), "same plan")
        self.assertEqual(compare.plan_change(base, {"q1": {"hash": "a"}, "q2": {"hash": "c"}}),
                         "plan changed: q2")

    def test_plan_sort(self):
        same = 'plans {"abc": {"count": 2}}\n'
        base = [(100, 50)] * 3
        d = tempfile.mkdtemp()
        try:
            self.write_set(os.path.join(d, "a"), base, same)
            self.write_set(os.path.join(d, "b"), base, same)
            self.write_set(os.path.join(d, "c"), base, 'plans {"def": {"count": 2}}\n')
            load = lambda x: compare.load_set(os.path.join(d, x))
            self.assertEqual(compare.compare(load("a"), load("b"), self.spec)[1], {"w": "same plan"})
            self.assertEqual(compare.compare(load("a"), load("c"), self.spec)[1], {"w": "plan changed"})
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
