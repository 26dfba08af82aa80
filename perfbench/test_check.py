"""The checker accepts correct step results and rejects corrupted ones.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No JVM is involved: the tests build the payloads a correct engine would
return from the generated inputs, then corrupt one field at a time.
"""

import copy
import os
import unittest

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "test-data")


def step(name, payload):
    return {"name": name, "ok": True, "payload": payload}


class CurateChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data = os.path.join(DATA, "curate-7")
        cls.truth = gen.generate("curate", 7, cls.data)
        d = check.read(os.path.join(cls.data, "docs.parquet"), ["doc_id", "text"])
        text = dict(zip(d["doc_id"], d["text"]))
        t = cls.truth
        groups = t["exact_groups"]
        pairs = [tuple(p) for p in t["near_pairs"]]
        losers = {i for g in groups for i in g if i != min(g)} | {b for _, b in pairs}
        comp = check.components(pairs)
        footer = set(t["footer_ids"])
        kept = {i: len(check.tokens(text[i])) - (t["footer_tokens"] if i in footer else 0)
                for i in text if i not in losers}
        shards, at = [], 0
        for i in sorted(kept):
            shards.append([i, kept[i], at // 2000])
            at += kept[i]
        cls.steps = [
            step("ops.DedupOps.exactDedup", {
                "groups": len(set(text.values())),
                "dup_groups": [[min(g), len(g)] for g in groups]}),
            step("ops.DedupOps.minhashNearDup", {
                "pairs": [[a, b, check.jaccard(text[a], text[b])] for a, b in pairs]}),
            step("ops.GraphOps.dupClusters", {
                "clusters": [[i, c, i == c] for i, c in comp.items()]}),
            step("ops.DedupOps.exactSubstrIndex", {
                "rows": [[i, len(check.tokens(text[i])), k] for i, k in kept.items()]}),
            step("ops.PipelineOps.packShards", {"budget": 2000, "rows": shards}),
            step("sources.VersionedTable.commitCreate", {"version": 1, "rows": len(kept)}),
        ]

    def verdicts(self, steps):
        record = {"workload": "curate", "steps": steps, "extra": {}}
        return check.check(record, self.truth, self.data)["steps"]

    def test_correct_results_pass(self):
        v = self.verdicts(self.steps)
        self.assertTrue(all(ok for ok, _ in v.values()), v)

    def corrupt(self, index, edit):
        steps = copy.deepcopy(self.steps)
        edit(steps[index]["payload"])
        v = self.verdicts(steps)
        self.assertFalse(v[index][0], f"corrupted step {index} passed")

    def test_missed_exact_group_fails(self):
        self.corrupt(0, lambda p: p["dup_groups"].pop())

    def test_wrong_jaccard_fails(self):
        self.corrupt(1, lambda p: p["pairs"][0].__setitem__(2, p["pairs"][0][2] - 0.01))

    def test_low_near_dup_recall_fails(self):
        self.corrupt(1, lambda p: p.__setitem__("pairs", p["pairs"][: len(p["pairs"]) * 3 // 4]))

    def test_uncut_repeated_span_fails(self):
        footer = set(self.truth["footer_ids"])

        def uncut(p):
            row = next(r for r in p["rows"] if r[0] in footer)
            row[2] = row[1]
        self.corrupt(3, uncut)

    def test_token_total_not_conserved_fails(self):
        self.corrupt(4, lambda p: p["rows"][5].__setitem__(1, p["rows"][5][1] + 1))

    def test_wrong_shard_fails(self):
        self.corrupt(4, lambda p: p["rows"][-1].__setitem__(2, p["rows"][-1][2] + 1))

    def test_wrong_table_row_count_fails(self):
        self.corrupt(5, lambda p: p.__setitem__("rows", p["rows"] - 1))

    def test_thrown_step_fails(self):
        steps = copy.deepcopy(self.steps)
        steps[0] = {"name": steps[0]["name"], "ok": False, "error": "boom"}
        self.assertFalse(self.verdicts(steps)[0][0])


class SessionChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data = os.path.join(DATA, "session-7")
        cls.truth = gen.generate("session", 7, cls.data)
        cls.oracle = check.Session(cls.truth, cls.data)

    def verdict(self, name, payload):
        record = {"workload": "session", "steps": [step(name, payload)], "extra": {}}
        return check.check(record, self.truth, self.data)["steps"][0][0]

    def test_revenue_sum(self):
        want = self.oracle.one("SELECT sum(l_extendedprice * (1 - l_discount)) "
                               "FROM lineitem WHERE year(l_shipdate) = 1997")
        self.assertTrue(self.verdict("core.Series.sum", {"year": 1997, "value": want}))
        self.assertFalse(self.verdict("core.Series.sum",
                                      {"year": 1997, "value": want * (1 + 1e-6)}))

    def test_nlargest_order(self):
        rows = [list(r) for r in self.oracle.all(
            "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
            "WHERE l_returnflag = 'R' ORDER BY l_extendedprice DESC, l_orderkey, "
            "l_linenumber LIMIT 5")]
        self.assertTrue(self.verdict("core.GFrame.nlargest", {"flag": "R", "rows": rows}))
        self.assertFalse(self.verdict("core.GFrame.nlargest",
                                      {"flag": "R", "rows": rows[1:] + rows[:1]}))

    def test_sessionize_count(self):
        p = {"mod": 4, "rem": 1, "gap": 3600}
        want = self.oracle.one(
            "SELECT sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 3600000000 "
            "THEN 1 ELSE 0 END) FROM (SELECT ts, lag(ts) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS prev FROM events WHERE user_id % 4 = 1)")
        self.assertTrue(self.verdict("ops.EventOps.sessionize", dict(p, value=want)))
        self.assertFalse(self.verdict("ops.EventOps.sessionize", dict(p, value=want + 1)))


if __name__ == "__main__":
    unittest.main()
