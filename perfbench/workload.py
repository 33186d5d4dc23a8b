"""Seeded workload generators.

Each generator turns a seed into the parameters the library receives: op
types, search terms, keys, query vectors, upsert deltas. Op types come in
fixed-composition cycles, shuffled by the seed, so every seed drives the
same mix and a run that ends on a cycle boundary has executed it exactly.
"""
import collections

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gendata import ADJ, BRANDS, NOUN, PART_WORDS, TYPES

# One cycle of the agent's calls. cosineTopK serves both RAG retrieval
# (k=5) and the semantic-cache check (k=1).
AGENT_CYCLE = [("search", {}), ("fuzzy", {}), ("stock", {}), ("sku", {}), ("sku", {}),
               ("orders", {}), ("cancel", {}), ("topk", {"k": 5}), ("topk", {"k": 1}),
               ("ann", {})]

# Catalog deltas by cycle: three re-scraped brands, then one scattered
# price sweep.
UPSERT_CYCLE = ["brand", "brand", "brand", "sweep"]
MOVE_SHARE, NEW_SHARE, SWEEP_SHARE = 0.05, 0.05, 0.1

# The analytics deck, in order. g_kcore (an empty 80-core at this scale)
# and d_embedding_neardup (the second Dedup entry) stay out so that a pass
# fits the run budget.
BATCH_DECK = [
    "q_revenue_by_category", "g_copurchase_edges", "g_pagerank",
    "g_communities", "g_louvain", "g_reach_profile", "d_minhash_lsh",
    "v_ivfpq_ann", "t_tfidf_keywords", "p_corpus_clean", "s_sessionize"]


def zipf_keys(rng, keys, size, s=1.1):
    """`size` draws from `keys`, Zipf-skewed over a seeded ranking."""
    ranked = rng.permutation(keys)
    p = 1.0 / np.arange(1, len(ranked) + 1) ** s
    return ranked[rng.choice(len(ranked), size, p=p / p.sum())]


def typo(rng, word):
    """The word at edit distance exactly one: one letter substituted,
    inserted or deleted."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    while True:
        i = int(rng.integers(0, len(word)))
        kind = int(rng.integers(0, 3))
        c = letters[int(rng.integers(0, 26))]
        if kind == 0:
            out = word[:i] + c + word[i + 1:]
        elif kind == 1:
            out = word[:i] + c + word[i:]
        else:
            out = word[:i] + word[i + 1:]
        if out != word and out:
            return out


def _words(rng, n):
    return [str(w) for w in rng.choice(PART_WORDS, n, replace=False)]


class CatalogHistory:
    """The working `part` table after each merge, as the upsert generator
    applied its deltas. versions[v] is the table after v merges."""

    def __init__(self, part):
        self.versions = [part.set_index("p_partkey", drop=False).rename_axis(None).sort_index()]

    @property
    def current(self):
        return self.versions[-1]

    def apply(self, delta):
        cur = self.current
        nxt = pd.concat([cur.drop(index=delta["p_partkey"], errors="ignore"),
                         delta.set_index("p_partkey", drop=False).rename_axis(None)]).sort_index()
        self.versions.append(nxt)


def _brand_delta(rng, cur, next_key):
    brand = str(rng.choice(BRANDS))
    rows = cur[cur["p_brand"] == brand].copy()
    old = rows["p_retailprice"].to_numpy()
    new = np.round(old * rng.uniform(0.9, 1.1, len(rows)), 1)
    rows["p_retailprice"] = np.where(new == old, np.round(old + 0.1, 1), new)
    moving = rng.random(len(rows)) < MOVE_SHARE
    rows.loc[moving, "p_brand"] = [str(b) for b in rng.choice(
        [b for b in BRANDS if b != brand], int(moving.sum()))]
    n_new = max(1, round(NEW_SHARE * len(rows)))
    keys = np.arange(next_key, next_key + n_new, dtype=np.int64)
    fresh = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(ADJ, n_new), rng.choice(NOUN, n_new))],
        "p_brand": brand,
        "p_type": rng.choice(TYPES, n_new),
        "p_size": rng.integers(1, 51, n_new).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 1000.0, n_new), 1)})
    return pd.concat([rows, fresh], ignore_index=True), next_key + n_new


def _sweep_delta(rng, cur):
    n = max(1, round(SWEEP_SHARE * len(cur)))
    rows = cur.loc[rng.choice(cur.index.to_numpy(), n, replace=False)].copy()
    old = rows["p_retailprice"].to_numpy()
    rows["p_retailprice"] = np.round(old + rng.integers(1, 50, len(rows)) / 10.0, 1)
    return rows.reset_index(drop=True)


def agent_plan(seed, cycles, part, n_custs, n_vecs):
    """The agent's calls, cycle by cycle, with the catalog re-ingest step
    (a merge, then a read-your-write `sku` and a `search` or `stock` of the
    merged table) at a seeded position in each cycle.

    Returns the ops, the warm-up calls, the deltas (with a delta_id column),
    the catalog history and the partitions each delta touches. Catalog
    reads carry `version`, the number of merges applied before them."""
    rng = np.random.default_rng(seed)
    skus = iter(zipf_keys(rng, part["p_partkey"].to_numpy(), cycles * 2))
    custs = iter(zipf_keys(rng, np.arange(n_custs), cycles * 2))
    hist = CatalogHistory(part)
    next_key = int(part["p_partkey"].max()) + 1
    ops, deltas, touched = [], [], []
    for c in range(cycles):
        calls = []
        for j in rng.permutation(len(AGENT_CYCLE)):
            kind, extra = AGENT_CYCLE[j]
            op = {"op": kind, **extra}
            if kind == "search":
                op["terms"] = _words(rng, int(rng.integers(1, 3)))
            elif kind == "fuzzy":
                op["terms"] = [typo(rng, w) for w in _words(rng, int(rng.integers(1, 3)))]
            elif kind == "stock":
                op["query"] = " ".join(_words(rng, int(rng.integers(1, 4))))
            elif kind == "sku":
                op["key"] = int(next(skus))
            elif kind in ("orders", "cancel"):
                op["key"] = int(next(custs))
            else:
                op["query"] = int(rng.integers(0, n_vecs))
            calls.append(op)
        cur = hist.current
        if UPSERT_CYCLE[c % len(UPSERT_CYCLE)] == "brand":
            delta, next_key = _brand_delta(rng, cur, next_key)
        else:
            delta = _sweep_delta(rng, cur)
        hosts = cur["p_brand"].reindex(delta["p_partkey"]).dropna()
        touched.append(len(set(delta["p_brand"]) | set(hosts)))
        d = len(deltas)
        deltas.append(delta.assign(delta_id=np.int32(d)))
        hist.apply(delta)
        v = len(hist.versions) - 1
        key = int(delta["p_partkey"].iloc[int(rng.integers(0, len(delta)))])
        read = ({"op": "search", "terms": _words(rng, int(rng.integers(1, 3)))} if c % 2 == 0
                else {"op": "stock", "query": " ".join(_words(rng, int(rng.integers(1, 4))))})
        step = [{"op": "merge", "delta": d, "kind": UPSERT_CYCLE[c % len(UPSERT_CYCLE)],
                 "rows": len(delta)},
                {"op": "sku", "key": key, "table": "catalog", "version": v},
                dict(read, table="catalog", version=v)]
        at = int(rng.integers(0, len(calls) + 1))
        ops += [dict(o, cycle=c) for o in calls[:at] + step + calls[at:]]
    warmup = [{"op": "search", "terms": ["red"]}, {"op": "stock", "query": "blue rod"},
              {"op": "sku", "key": 0}, {"op": "fuzzy", "terms": ["bolte"]},
              {"op": "orders", "key": 1}, {"op": "cancel", "key": 1},
              {"op": "topk", "query": 1, "k": 5}, {"op": "ann", "query": 1}]
    return ops, warmup, pd.concat(deltas, ignore_index=True), hist, touched


def agent_summary(ops, touched):
    calls = [o for o in ops if "table" not in o and o["op"] != "merge"]
    kinds = collections.Counter(
        o["op"] + (f"_k{o['k']}" if o["op"] == "topk" else "") for o in calls)
    merges = [o for o in ops if o["op"] == "merge"]
    return {"cycles": len({o["cycle"] for o in ops}), "ops": len(ops),
            "calls_by_type": dict(sorted(kinds.items())),
            "distinct_skus": len({o["key"] for o in calls if o["op"] == "sku"}),
            "distinct_custkeys": len({o["key"] for o in calls if o["op"] in ("orders", "cancel")}),
            "distinct_vector_queries": len({o["query"] for o in calls if o["op"] in ("topk", "ann")}),
            "catalog_reads": len([o for o in ops if "table" in o]),
            "deltas_by_kind": dict(collections.Counter(o["kind"] for o in merges)),
            "delta_rows": sum(o["rows"] for o in merges),
            "partitions_touched_per_delta": {
                "min": min(touched), "mean": round(sum(touched) / len(touched), 2),
                "max": max(touched)}}


def write_deltas(deltas, path):
    schema = pa.schema([("delta_id", pa.int32()), ("p_partkey", pa.int64()),
                        ("p_name", pa.string()), ("p_brand", pa.string()),
                        ("p_type", pa.string()), ("p_size", pa.int32()),
                        ("p_retailprice", pa.float64())])
    pq.write_table(pa.Table.from_pandas(deltas[schema.names], schema=schema,
                                        preserve_index=False), path)


def batch_plan():
    return [{"op": "entry", "cycle": 0, "entry": e} for e in BATCH_DECK]
