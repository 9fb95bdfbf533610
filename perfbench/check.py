"""Output checker for the benchmark.

serve-root-ingest: replays the op stream against an exact model of the
live corpus (the generated corpus plus the ingest log, latest op wins, a
put beating a delete of the same batch) and checks every served
response: well-formed JSON-RPC, at most k hits, score-descending with a
doc_id tie-break, live ids only, the right text, and the exact score.
Recall at 10 is measured against the model's exact top-10.

batch-suite: every sampled query must run without error, and its rows in
the warm pass must match the recorded reference (`batch_reference.json`:
row count and SHA-1 of the rows in order, made once from the generated
tables).
"""

import json

import numpy as np

K = 10
SCORE_TOL = 1e-5


class LiveCorpus:
    """Exact model of what a request may be served."""

    def __init__(self, ids, vecs, labels, texts):
        self.pos = {int(i): n for n, i in enumerate(ids)}
        self.ids = np.asarray(ids, dtype=np.int64)
        v = np.asarray(vecs, dtype=np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.labels = np.asarray(labels, dtype=np.int64)
        self.live = np.ones(len(self.ids), dtype=bool)
        self.base_texts = texts
        self.put_text = {}

    def text(self, i):
        if i in self.put_text:
            return self.put_text[i]
        return self.base_texts[i]

    def apply(self, puts, put_vecs, dels):
        for d in dels:
            self.live[self.pos[int(d)]] = False
        new = []
        for p, v in zip(puts, put_vecs):
            i = int(p["id"])
            u = np.asarray(v, dtype=np.float64)
            u = u / np.linalg.norm(u)
            self.put_text[i] = p["text"]
            if i in self.pos:
                n = self.pos[i]
                self.unit[n] = u
                self.labels[n] = p["label"]
                self.live[n] = True
            else:
                new.append((i, u, p["label"]))
        if new:
            base = len(self.ids)
            for n, (i, _, _) in enumerate(new):
                self.pos[i] = base + n
            self.ids = np.concatenate([self.ids, [i for i, _, _ in new]])
            self.unit = np.vstack([self.unit, [u for _, u, _ in new]])
            self.labels = np.concatenate([self.labels, [l for _, _, l in new]])
            self.live = np.concatenate([self.live, np.ones(len(new), dtype=bool)])

    def delta_rows_live(self):
        return sum(1 for i in self.put_text if self.live[self.pos[i]])

    def scores(self, qvec, flt):
        """Exact (1 + cos) / 2 over the live rows matching the filter."""
        q = np.asarray(qvec, dtype=np.float64)
        q = q / np.linalg.norm(q)
        mask = self.live.copy()
        if flt:
            mask &= self.labels == int(flt["label"])
        rows = np.nonzero(mask)[0]
        return rows, np.round((1.0 + self.unit[rows] @ q) / 2.0, 6)


def parse_hits(resp, expect_id):
    """The hits arrays of one JSON-RPC tool response; raises ValueError."""
    msg = json.loads(resp)
    if msg.get("id") != expect_id or "result" not in msg:
        raise ValueError("not a result for request %s" % expect_id)
    res = msg["result"]
    if res.get("isError"):
        raise ValueError("tool error: %s" % res["content"][0]["text"][:200])
    text = res["content"][0]["text"]
    if text == "No results found.":
        return []
    return json.loads(text)


def check_hits(model, hits, qvec, flt):
    """Problems with one served top-k, and its recall at 10."""
    problems = []
    rows, sc = model.scores(qvec, flt)
    if len(hits) > K:
        problems.append("more than %d hits" % K)
    if len(hits) < min(K, len(rows)):
        problems.append("%d hits, %d live rows match" % (len(hits), len(rows)))
    exact = dict(zip(model.ids[rows].tolist(), sc.tolist()))
    prev = None
    for h in hits:
        if not isinstance(h, dict) or set(h) != {"doc_id", "text", "score"}:
            problems.append("malformed hit %r" % (h,))
            continue
        i, s = h["doc_id"], h["score"]
        if prev is not None and (s > prev[1] or (s == prev[1] and i <= prev[0])):
            problems.append("hits not score-descending with doc_id tie-break")
        prev = (i, s)
        if i not in exact:
            problems.append("doc %s is not live or does not match the filter" % i)
            continue
        if abs(exact[i] - s) > SCORE_TOL:
            problems.append("doc %s scored %s, exact %s" % (i, s, exact[i]))
        if h["text"] != model.text(i):
            problems.append("doc %s carries the wrong text" % i)
    if len(rows) == 0:
        return problems, 1.0
    top = np.sort(sc)[::-1][:K]
    relevant = {i for i, s in exact.items() if s >= top[-1] - 2e-6}
    found = len({h.get("doc_id") for h in hits if isinstance(h, dict)} & relevant)
    return problems, min(found, K) / min(K, len(rows))


def check_run(model, ops, records):
    """Walk the executed ops in order.  Returns (failed op indexes with
    reasons, per-record recall list) — recall is None for ingests."""
    failed = {}
    recalls = {}
    rpc_id = 0
    for rec in records:
        i = rec["i"]
        op = ops[i]
        rpc_id += 1
        try:
            if op["op"] == "ingest":
                model.apply(op["puts"], rec["put_vecs"], op["dels"])
                continue
            hits = parse_hits(rec["resp"], rpc_id)
            if op["op"] == "search":
                pairs = [(hits, rec["qvecs"][0])]
            else:
                if len(hits) != len(op["prompts"]):
                    raise ValueError("batch answered %d of %d prompts"
                                     % (len(hits), len(op["prompts"])))
                pairs = list(zip(hits, rec["qvecs"]))
            rs = []
            for h, q in pairs:
                probs, r = check_hits(model, h, q, op.get("filter"))
                if probs:
                    raise ValueError("; ".join(probs[:3]))
                rs.append(r)
            recalls[i] = rs
        except (ValueError, KeyError, TypeError, IndexError) as e:
            failed[i] = str(e)[:300]
    return failed, recalls


def check_batch(reference, queries, records):
    """Failed op indexes with reasons: errors, a warm-pass answer that
    differs from the reference, and a sampled query the warm pass missed."""
    failed = {}
    warmed = set()
    for rec in records:
        i, q = rec["i"], rec["query"]
        if "error" in rec:
            failed[i] = "%s failed: %s" % (q, rec["error"])
        elif rec["warm"]:
            warmed.add(q)
            ref = reference.get(q)
            got = {"rows": rec["rows"], "hash": rec["hash"]}
            if ref != got:
                failed[i] = "%s answered %s, reference %s" % (q, json.dumps(got), json.dumps(ref))
    for n, q in enumerate(sorted(set(queries) - warmed)):
        failed[-2 - n] = "%s never ran in the warm pass" % q
    return failed
