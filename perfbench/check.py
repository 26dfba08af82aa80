"""Correctness checks for every benchmark step.

Each step's payload (collected by the JVM after the step, untimed) is
compared against one of:
  * the planted ground truth from gen.py (curate);
  * an independent DuckDB recomputation over the same parquet (session),
    including k-NN graph recall against exact cosine neighbours.
A step whose call threw, whose payload could not be collected, or whose
result disagrees is failed. `check()` returns per-step verdicts and the
quality ratios measured along the way.
"""

import math
import os
import re
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

NEAR_DUP_RECALL_MIN = 0.85
GRAPH_RECALL_MIN = 0.6
REL_TOL = 1e-9


class Mismatch(Exception):
    pass


def expect(cond, msg):
    if not cond:
        raise Mismatch(msg)


def close(a, b, rel=REL_TOL, abs_=1e-9):
    return a is not None and b is not None and math.isclose(
        float(a), float(b), rel_tol=rel, abs_tol=abs_)


def tokens(text):
    return [t for t in re.split(" +", text.lower()) if t]


def shingles(text, n=3):
    ts = tokens(text)
    return {" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def recall_at(hits, exact, k):
    """Mean over queries of |approx top-k ∩ exact top-k| / k."""
    want = defaultdict(set)
    for q, rk, n in exact:
        if rk <= k:
            want[q].add(n)
    got = defaultdict(set)
    for q, rk, n in hits:
        if rk <= k:
            got[q].add(n)
    if not want:
        return None
    return sum(len(got[q] & want[q]) / len(want[q]) for q in want) / len(want)


def read(path, cols=None):
    return pq.read_table(path, columns=cols).to_pydict()


# ---------------------------------------------------------------- curate

class Curate:
    def __init__(self, truth, data):
        self.t = truth
        d = read(os.path.join(data, "docs.parquet"), ["doc_id", "text"])
        self.text = dict(zip(d["doc_id"], d["text"]))
        w = read(os.path.join(data, "waves.parquet"), ["wave", "doc_id", "text"])
        self.wave_text = defaultdict(dict)
        for wv, i, t in zip(w["wave"], w["doc_id"], w["text"]):
            self.wave_text[wv][i] = t
        self.cleaned = None
        self.pairs = []
        self.table_rows = None
        self.quality = {}

    def step(self, name, p):
        getattr(self, name.split(".")[-1], lambda p: None)(p)

    def normalizeText(self, p):
        expect(p["rows"] == self.t["docs"], f"rows {p['rows']} != {self.t['docs']}")

    def qualityScore(self, p):
        stops = {"the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with"}
        total = 0.0
        for t in self.text.values():
            ts = tokens(t)
            ratio = sum(x in stops for x in ts) / len(ts) if ts else 0.0
            x = min(len(t) / 500.0, 1.0) * max(0.0, 1.0 - ratio * 2.0)
            total += math.floor(x * 1e6 + 0.5) / 1e6
        expect(p["rows"] == self.t["docs"], "row count")
        expect(close(p["quality_sum"], total, 1e-9, 1e-6),
               f"quality sum {p['quality_sum']} != {total}")

    def sum(self, p):
        want = sum(len(tokens(t)) for t in self.text.values())
        expect(p["tokens"] == want, f"token total {p['tokens']} != {want}")

    def exactDedup(self, p):
        want = {(min(g), len(g)) for g in self.t["exact_groups"]}
        got = {(int(a), int(b)) for a, b in p["dup_groups"]}
        expect(got == want, f"{len(want ^ got)} exact groups differ")
        expect(p["groups"] == len(set(self.text.values())), "group count")
        self.exact_losers = {i for g in self.t["exact_groups"] for i in g if i != min(g)}

    def minhashNearDup(self, p):
        pairs = [(int(a), int(b)) for a, b, _ in p["pairs"]]
        for (a, b), (_, _, j) in zip(pairs, p["pairs"]):
            expect(a < b, f"pair ({a},{b}) not ordered")
            expect(a not in self.exact_losers and b not in self.exact_losers,
                   "pair over an exact-duplicate loser")
            want = jaccard(self.text[a], self.text[b])
            expect(close(j, want, 1e-9) and want >= 0.5,
                   f"pair ({a},{b}) jaccard {j} (exact {want})")
        planted = {tuple(x) for x in self.t["near_pairs"]}
        rec = len(planted & set(pairs)) / len(planted)
        self.quality["ops.DedupOps.minhashNearDup.recall"] = rec
        self.pairs = pairs
        expect(rec >= NEAR_DUP_RECALL_MIN, f"near-dup recall {rec:.3f}")

    def dupClusters(self, p):
        comp = components(self.pairs)
        got = {int(i): (int(c), bool(k)) for i, c, k in p["clusters"]}
        expect(set(got) == set(comp), "clustered ids differ from paired ids")
        for i, (c, k) in got.items():
            expect(c == comp[i] and k == (i == c), f"doc {i} in cluster {c}")
        self.near_losers = {i for i, (c, _) in got.items() if i != c}

    def exactSubstrIndex(self, p):
        keep = set(self.text) - self.exact_losers - self.near_losers
        got = {int(i): (int(n), int(k)) for i, n, k in p["rows"]}
        expect(set(got) == keep, f"{len(set(got) ^ keep)} indexed ids differ")
        footer = set(self.t["footer_ids"])
        for i, (n, k) in got.items():
            want_k = n - self.t["footer_tokens"] if i in footer else n
            expect(n == len(tokens(self.text[i])) and k == want_k,
                   f"doc {i}: n_tokens {n}, kept {k}, expected kept {want_k}")
        self.cleaned = got

    def packShards(self, p):
        rows = sorted((int(i), int(k), int(s)) for i, k, s in p["rows"])
        expect([r[0] for r in rows] == sorted(self.cleaned), "packed ids differ")
        expect(sum(r[1] for r in rows) == sum(k for _, k in self.cleaned.values()),
               "token total not conserved")
        at = 0
        for i, k, s in rows:
            expect(s == at // p["budget"], f"doc {i} in shard {s}, expected {at // p['budget']}")
            at += k

    def commitCreate(self, p):
        self.table_rows = len(self.cleaned)
        expect(p["version"] == 1 and p["rows"] == self.table_rows,
               f"table v{p['version']} has {p['rows']} rows, expected {self.table_rows}")

    def exactSubstrIngest(self, p):
        w = self.t["waves"][p["wave"]]
        texts = self.wave_text[p["wave"]]
        k = self.t["substr_k"]
        copies = {d: s for d, s in w["copies"]}
        want = {}
        for d, t in texts.items():
            n = len(tokens(t))
            whole = d in copies and n >= k
            want[d] = (n, 0 if whole else n)
            if whole:
                want[copies[d]] = (n, 0)
        got = {int(i): (int(n), int(kk)) for i, n, kk in p["rows"]}
        expect(got == want, f"wave {p['wave']}: {len(set(got.items()) ^ set(want.items()))} rows differ")
        self.last_wave = len(texts)

    def commitUpsert(self, p):
        self.table_rows += self.last_wave
        expect(p["rows"] == self.table_rows,
               f"table v{p['version']} has {p['rows']} rows, expected {self.table_rows}")


# ---------------------------------------------------------------- session

class Session:
    def __init__(self, truth, data):
        import duckdb
        self.db = duckdb.connect()
        self.db.execute("SET TimeZone='UTC'")
        for t in ("lineitem", "orders", "events", "embeddings"):
            self.db.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
        self.quality = {}

    def one(self, sql, *args):
        return self.db.execute(sql, list(args)).fetchone()[0]

    def all(self, sql, *args):
        return self.db.execute(sql, list(args)).fetchall()

    def step(self, name, p):
        fn = {
            "core.Series.sum": self.series_sum, "core.Series.astype": self.astype,
            "core.Series.std": self.std, "core.GFrame.groupBy": self.group_by,
            "core.GFrame.merge": self.merge, "core.GFrame.nlargest": self.nlargest,
            "core.GlobalWindows.rollingMean": self.rolling,
            "core.Ewm.mean": self.ewm, "core.GlobalWindows.shift": self.shift,
            "ops.EventOps.sessionize": self.sessionize,
            "ops.EventOps.funnel": self.funnel,
            "ops.SimilarityOps.knnGraphBuild": self.knn,
            "ops.GraphOps.dupClusters": self.clusters,
        }[name]
        fn(p)

    def series_sum(self, p):
        want = self.one("SELECT sum(l_extendedprice * (1 - l_discount)) FROM lineitem "
                        "WHERE year(l_shipdate) = ?", p["year"])
        expect(close(p["value"], want), f"{p['value']} != {want}")

    def astype(self, p):
        want = self.one("SELECT sum(CAST(trunc(l_quantity) AS INTEGER)) FROM lineitem "
                        "WHERE l_returnflag = ?", p["flag"])
        expect(int(p["value"]) == want, f"{p['value']} != {want}")

    def std(self, p):
        want = self.one("SELECT stddev_samp(l_extendedprice * 0.001) FROM lineitem "
                        "WHERE l_linenumber = ?", p["linenumber"])
        expect(close(p["value"], want, 1e-8), f"{p['value']} != {want}")

    def rows_match(self, got, want, key_cols):
        g = sorted(tuple(r) for r in got)
        w = sorted(tuple(r) for r in want)
        expect(len(g) == len(w), f"{len(g)} rows != {len(w)}")
        for a, b in zip(g, w):
            expect(a[:key_cols] == tuple(b[:key_cols]), f"{a} != {b}")
            for x, y in zip(a[key_cols:], b[key_cols:]):
                expect(close(x, y), f"{a} != {b}")

    def group_by(self, p):
        want = self.all("SELECT l_returnflag, l_linestatus, sum(l_quantity), count(*) "
                        "FROM lineitem WHERE l_discount >= ? GROUP BY ALL", p["discount"])
        self.rows_match(p["rows"], want, 2)

    def merge(self, p):
        want = self.all("SELECT o_orderpriority, count(*) FROM lineitem JOIN orders "
                        "ON l_orderkey = o_orderkey WHERE l_quantity <= ? GROUP BY ALL",
                        p["quantity"])
        self.rows_match(p["rows"], want, 1)

    def nlargest(self, p):
        want = self.all("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
                        "WHERE l_returnflag = ? ORDER BY l_extendedprice DESC, l_orderkey, "
                        "l_linenumber LIMIT 5", p["flag"])
        expect([tuple(r) for r in p["rows"]] == [tuple(r) for r in want],
               f"{p['rows']} != {want}")

    def rolling(self, p):
        want = self.one(
            "SELECT sum(m) FROM (SELECT CASE WHEN row_number() OVER w >= ? THEN "
            "avg(value) OVER (w ROWS BETWEEN ? PRECEDING AND CURRENT ROW) END AS m "
            "FROM events WHERE event_type = ? WINDOW w AS (ORDER BY event_id))",
            p["n"], p["n"] - 1, p["type"])
        expect(close(p["value"], want, 1e-9), f"{p['value']} != {want}")

    def ewm(self, p):
        xs = [r[0] for r in self.all("SELECT value FROM events WHERE event_type = ? "
                                     "ORDER BY event_id", p["type"])]
        w, num, den, total = 1.0 - p["alpha"], 0.0, 0.0, 0.0
        for x in xs:
            num, den = x + w * num, 1.0 + w * den
            total += num / den
        expect(close(p["value"], total, 1e-7), f"{p['value']} != {total}")

    def shift(self, p):
        want = self.one("SELECT sum(s) FROM (SELECT lag(value, ?) OVER (ORDER BY event_id) "
                        "AS s FROM events WHERE event_type = ?)", p["k"], p["type"])
        expect(close(p["value"], want, 1e-9), f"{p['value']} != {want}")

    def sessionize(self, p):
        want = self.one(
            "SELECT sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > ? "
            "THEN 1 ELSE 0 END) FROM (SELECT ts, lag(ts) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS prev FROM events WHERE user_id % ? = ?)",
            p["gap"] * 1000000, p["mod"], p["rem"])
        expect(int(p["value"]) == want, f"{p['value']} != {want}")

    def funnel(self, p):
        s1, s2, s3 = p["stages"]
        want = self.one(
            "WITH a AS (SELECT user_id, min(ts) FILTER (WHERE event_type = ?) AS t1 "
            "FROM events GROUP BY user_id), "
            "b AS (SELECT a.user_id, t1, min(e.ts) FILTER (WHERE e.event_type = ? AND "
            "e.ts >= t1) AS t2 FROM a JOIN events e USING (user_id) GROUP BY ALL), "
            "c AS (SELECT b.user_id, t1, t2, min(e.ts) FILTER (WHERE e.event_type = ? AND "
            "e.ts >= t2) AS t3 FROM b JOIN events e USING (user_id) GROUP BY ALL) "
            "SELECT [count(t1), count(t2), count(t3)] FROM c", s1, s2, s3)
        expect([int(x) for x in p["rows"][0]] == want, f"{p['rows'][0]} != {want}")

    def knn(self, p):
        m, salt = p["m"], p["salt"]
        exact = self.all(
            "SELECT src, rk, dst FROM (SELECT a.vec_id AS src, b.vec_id AS dst, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, "
            "b.vec_id) AS rk FROM embeddings a, embeddings b WHERE (a.vec_id + ?) % 100 = 0 "
            "AND a.vec_id <> b.vec_id) WHERE rk <= ?", salt, m)
        rec = recall_at([tuple(r) for r in p["sample"]], exact, m)
        self.quality.setdefault("ops.SimilarityOps.knnGraphBuild.recall_at_10", []).append(rec)
        expect(rec is not None and rec >= GRAPH_RECALL_MIN, f"edge recall {rec}")

    def clusters(self, p):
        edges = self.all("SELECT l_partkey, l_orderkey + 1000000 FROM lineitem "
                         "WHERE l_orderkey BETWEEN ? AND ?", p["lo"], p["hi"] - 1)
        want = components(edges)
        got = {int(i): int(c) for i, c in p["rows"]}
        expect(got == want, f"{len(set(got.items()) ^ set(want.items()))} rows differ")


def check(record, truth, data):
    """Verdict per step index: (ok, reason), plus measured quality ratios."""
    wl = record["workload"]
    checker = {"curate": Curate, "session": Session}[wl](truth, data)
    verdicts = {}
    steps = record["steps"]
    for i, s in enumerate(steps):
        if not s.get("ok"):
            verdicts[i] = (False, s.get("error", "failed"))
            continue
        try:
            checker.step(s["name"], s["payload"])
            verdicts[i] = (True, "")
        except Mismatch as e:
            verdicts[i] = (False, str(e))
        except (KeyError, AttributeError, TypeError) as e:
            verdicts[i] = (False, f"unexpected result shape: {e!r}")
    quality = {k: (float(np.mean(v)) if isinstance(v, list) else v)
               for k, v in checker.quality.items()}
    return {"steps": verdicts, "quality": quality}
