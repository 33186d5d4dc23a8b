"""Output checks: every op's result against an independent recomputation
over the same generated tables, or against recorded digests.

A check returns None when the output is right and a one-line reason when
it is not; the runner counts a wrong output as a failed op.
"""
import collections
import os

import numpy as np
import pyarrow.parquet as pq

# Similarities are rounded to 6 decimals by graft; allow for a last-digit
# difference between its summation order and numpy's.
SIM_TOL = 2e-6

# Entries whose output depends on randomized or approximate algorithms:
# checked by row count and value ranges, not digest. Ranges are inclusive.
ROWS_ONLY = {
    # top-5 of 16 k-means cells: exact re-ranked cosine of each candidate
    "v_ivfpq_ann": {"rows": (5, 5), "sim": (-1.0, 1.0), "vec_id": (0, None),
                    "cell": (0, 15)},
    # HyperANF: one row per round t = 0..6, pair estimates never negative
    "g_reach_profile": {"rows": (7, 7), "t": (0, 6), "est_pairs": (1, None),
                        "delta_pairs": (0, None)},
}


def levenshtein(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _table(data_dir, name, columns=None):
    return pq.read_table(os.path.join(data_dir, f"{name}.parquet"), columns=columns).to_pandas()


def _rows_with(df, column, key):
    """The rows of `df`, sorted by `column`, whose `column` equals `key`."""
    v = df[column].to_numpy()
    return df.iloc[np.searchsorted(v, key, "left"):np.searchsorted(v, key, "right")]


class Oracle:
    """Expected results of the agent's calls, recomputed with pandas and
    numpy from the parquet files graft reads."""

    def __init__(self, data_dir):
        self.part = _table(data_dir, "part").set_index("p_partkey", drop=False).rename_axis(None)
        o = _table(data_dir, "orders", ["o_orderkey", "o_custkey", "o_orderstatus"])
        self.orders = o.sort_values("o_custkey", kind="stable")
        li = _table(data_dir, "lineitem", ["l_orderkey", "l_linenumber", "l_partkey"])
        self.lines = li.sort_values("l_orderkey", kind="stable")
        e = _table(data_dir, "embeddings").sort_values("vec_id")
        self.vec_ids = e["vec_id"].to_numpy()
        v = np.stack(e["embedding"].to_numpy()).astype(np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)

    # -- relational ----------------------------------------------------
    @staticmethod
    def search(part, terms):
        """productSearch: rank by how many terms the name contains."""
        names = part["p_name"].str.lower()
        score = sum(names.str.contains(t, regex=False).astype(int) for t in terms)
        hit = part.assign(score=score)[score >= 1]
        top = hit.sort_values(["score", "p_partkey"], ascending=[False, True]).head(10)
        return [[int(k), int(s)] for k, s in zip(top["p_partkey"], top["score"])]

    @staticmethod
    def fuzzy(part, terms, max_dist=2):
        """fuzzySearch: per term the least edit distance over name tokens."""
        rows = []
        for name in part["p_name"].unique():
            toks = [t for t in name.lower().split() if t]
            ds = [min(levenshtein(t, term) for t in toks) for term in terms]
            ok = [d for d in ds if d <= max_dist]
            if ok:
                rows.append((name, len(ok), sum(ok)))
        found = []
        for name, matched, dist in rows:
            for k in part.index[part["p_name"] == name]:
                found.append((-matched, dist, int(k)))
        return [[k, -m, d] for m, d, k in sorted(found)[:10]]

    @staticmethod
    def stock(part, query):
        """checkStock: strongest match tier, lowest key in it."""
        q = query.lower()
        words = q.split()
        names = part["p_name"].str.lower()
        stage = np.where(names.str.contains(q, regex=False), 1,
                np.where(names.str.contains(words[0], regex=False)
                         & (names.str.contains(words[1], regex=False) if len(words) >= 2 else False), 2,
                np.where(names.str.contains(words[0], regex=False), 3, 0)))
        hit = part[stage > 0].assign(stage=stage[stage > 0])
        if hit.empty:
            return []
        best = hit[hit["stage"] == hit["stage"].min()].sort_values("p_partkey").iloc[0]
        return [[int(best["stage"]), int(best["p_partkey"]), best["p_name"],
                 int(best["p_size"]) * 10]]

    @staticmethod
    def sku(part, key):
        if key not in part.index:
            return []
        r = part.loc[key]
        return [[int(r["p_partkey"]), r["p_name"], r["p_brand"], r["p_type"],
                 int(r["p_size"]), float(r["p_retailprice"])]]

    def customer_orders(self, cust):
        return _rows_with(self.orders, "o_custkey", cust)

    def user_orders(self, cust):
        """userOrders as a multiset of (orderkey, linenumber, partkey)."""
        lines = collections.Counter()
        for k in self.customer_orders(cust)["o_orderkey"]:
            li = _rows_with(self.lines, "l_orderkey", k)
            lines.update(zip(li["l_orderkey"].astype(int), li["l_linenumber"].astype(int),
                             li["l_partkey"].astype(int)))
        return lines

    def cancel(self, cust):
        o = self.customer_orders(cust)
        return sorted(int(k) for k in o.loc[o["o_orderstatus"].isin(["O", "P"]), "o_orderkey"])

    # -- vectors -------------------------------------------------------
    def sims(self, query):
        """Cosine similarity of every other vector to `query`, rounded as
        graft rounds it."""
        i = int(np.searchsorted(self.vec_ids, query))
        s = np.round(self.unit @ self.unit[i], 6)
        keep = self.vec_ids != query
        return dict(zip(self.vec_ids[keep].tolist(), s[keep].tolist()))


def _sorted_desc(xs):
    return all(a >= b for a, b in zip(xs, xs[1:]))


def check_agent(op, rows, oracle, part=None):
    """Checks one request's collected rows. `part` overrides the oracle's
    catalog (the upsert workload reads a table that changes)."""
    part = oracle.part if part is None else part
    kind = op["op"]
    if kind == "search":
        got = [[r[0], r[3]] for r in rows]
        exp = oracle.search(part, op["terms"])
    elif kind == "fuzzy":
        got = [[r[0], r[3], r[4]] for r in rows]
        exp = oracle.fuzzy(part, op["terms"])
    elif kind == "stock":
        got = [[r[0], r[1], r[2], r[3]] for r in rows]
        exp = oracle.stock(part, op["query"])
    elif kind == "sku":
        got = rows
        exp = oracle.sku(part, op["key"])
        if any(r[0] != op["key"] for r in rows):
            return f"sku {op['key']} returned another key"
    elif kind == "orders":
        dates = [(-r[1], r[0], r[3]) for r in rows]
        if dates != sorted(dates):
            return "orders not newest-first"
        own = set(int(k) for k in oracle.customer_orders(op["key"])["o_orderkey"])
        if any(r[0] not in own for r in rows):
            return f"an order does not belong to customer {op['key']}"
        got = collections.Counter((r[0], r[3], r[4]) for r in rows)
        exp = oracle.user_orders(op["key"])
    elif kind == "cancel":
        got = [r[0] for r in rows]
        exp = oracle.cancel(op["key"])
        if any(r[1] not in ("O", "P") for r in rows):
            return "a cancel-eligible order is not open"
    elif kind in ("topk", "ann"):
        return _check_topk(op, rows, oracle)
    else:
        return f"unknown op {kind}"
    return None if got == exp else f"{kind} {op}: got {got} expected {exp}"


def _check_topk(op, rows, oracle):
    k = op.get("k", 5)
    sims = oracle.sims(op["query"])
    got = [r[1] for r in rows]
    if not _sorted_desc(got):
        return f"{op['op']}: similarities increase {got}"
    if len(rows) > k or any(r[0] not in sims for r in rows):
        return f"{op['op']}: bad ids {[r[0] for r in rows]}"
    if any(abs(sims[r[0]] - r[1]) > SIM_TOL for r in rows):
        return f"{op['op']}: similarity differs from recomputation"
    if op["op"] == "topk":
        best = sorted(sims.values(), reverse=True)[:k]
        if len(rows) != len(best) or got[-1] < best[-1] - SIM_TOL:
            return f"topk: missed a closer vector (got {got}, best {best})"
    elif not rows:
        return "ann: no candidates"
    return None


def check_entry(name, observed, digests):
    """A deck entry's observed row count, digest and column ranges."""
    if name in ROWS_ONLY:
        for col, (lo, hi) in ROWS_ONLY[name].items():
            if col == "rows":
                vals = [observed.get("rows")]
            else:
                vals = [observed.get(f"min:{col}"), observed.get(f"max:{col}")]
            for v in vals:
                if v is None or (lo is not None and v < lo) or (hi is not None and v > hi):
                    return f"{name}: {col}={v} outside [{lo}, {hi}]"
        return None
    want = digests.get(name)
    if want is None:
        return f"{name}: no recorded digest"
    got = {"rows": observed.get("rows"), "digest": observed.get("digest")}
    return None if got == want else f"{name}: got {got} expected {want}"
