"""Seeded input generator for the vecgo_spark benchmark.

Writes, from one seed, everything a benchmark run feeds the engine:

- ``t1.parquet``      the base table (FIXTURES.md T1 shape: id, vector,
                      category, price, score_i, tags, flag, ts, payload,
                      text, missing_field), zipfian-clustered vectors, with
                      the edge-case rows (zero vector, duplicate vector,
                      all-null metadata row);
- ``t2.parquet``      the query pool (T2 shape: qid, qvector, qtext, k,
                      sel_filter);
- ``churn-NN.parquet`` one batch of new + upserted rows per write round,
                      and ``plan.json`` with the ids each round deletes
                      (T3 shape: tombstones sampled from live ids);
- ``truth.npz``       numpy exact top-10 per (query, filter) over the base
                      table, ties broken by (score, id).

The engine's own fixture module hard-codes its seed, so only its shapes
are reused here, never its RNG. Same seed and workload, same bytes.

    python3 perfbench/gen.py --workload serve_warm --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [f"w{i:03d}" for i in range(1000)]
TAG_POOL = [f"tag{i}" for i in range(20)]
CATEGORIES = ["A", "B", "C", "D"]
K = 10
# name -> (SQL predicate, python predicate over (category, price)); the
# selectivities are ~100%, ~1%, ~25% and ~50%
FILTERS = {
    "none": (None, lambda c, p: True),
    "price_lt_1": ("price < 1", lambda c, p: p is not None and p < 1),
    "cat_a": ("category = 'A'", lambda c, p: c == "A"),
    "price_gt_50": ("price > 50", lambda c, p: p is not None and p > 50),
}


@dataclass(frozen=True)
class Spec:
    rows: int            # base table rows
    base_deletes: int    # base ids tombstoned while loading (T3)
    dim: int
    clusters: int        # vector clusters (zipf-weighted)
    queries: int         # queries single reads draw from
    zipf_queries: bool   # True: reads repeat a Zipf-skewed few queries
    batch_queries: int   # queries in the batch_search (a superset)
    rounds: int          # write rounds generated (a run uses a prefix)
    new_rows: int        # new rows per round
    upserts: int         # existing ids rewritten per round
    deletes: int         # existing ids tombstoned per round


SPECS = {
    "serve_warm": Spec(rows=3000, base_deletes=60, dim=128,
                       clusters=16, queries=8, zipf_queries=True,
                       batch_queries=64, rounds=0,
                       new_rows=0, upserts=0, deletes=0),
    "ingest_churn": Spec(rows=2000, base_deletes=0, dim=128,
                         clusters=16, queries=64, zipf_queries=False,
                         batch_queries=64,
                         rounds=12, new_rows=200, upserts=20, deletes=20),
}
# tiny sizes for the smoke tests; the workload keeps its query skew
SMOKE = dict(rows=300, dim=16, clusters=4, queries=8, batch_queries=8)


def spec_for(workload: str, smoke: bool = False) -> Spec:
    spec = SPECS[workload]
    if not smoke:
        return spec
    return replace(spec, **SMOKE, base_deletes=min(spec.base_deletes, 6),
                   new_rows=min(spec.new_rows, 30), upserts=min(spec.upserts, 5),
                   deletes=min(spec.deletes, 5), rounds=min(spec.rounds, 3))


def zipf_probs(n: int, s: float = 1.2) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _texts(rng, n: int, lo: int, hi: int) -> list[str]:
    p = zipf_probs(len(VOCAB))
    lens = rng.integers(lo, hi + 1, n)
    return [" ".join(rng.choice(VOCAB, size=int(w), p=p)) for w in lens]


class Rows:
    """Column-wise T1 rows generated around fixed cluster centres."""

    def __init__(self, rng, spec: Spec):
        self.rng = rng
        self.spec = spec
        self.centers = rng.random((spec.clusters, spec.dim)) * 2.0
        self.bucket_p = zipf_probs(spec.clusters)

    def vectors(self, n: int) -> np.ndarray:
        b = self.rng.choice(self.spec.clusters, size=n, p=self.bucket_p)
        v = self.centers[b] + self.rng.normal(0, 0.1, (n, self.spec.dim))
        return v.astype(np.float32)

    def table(self, ids: np.ndarray, ts0: int) -> dict:
        rng, n = self.rng, len(ids)
        vec = self.vectors(n)
        cat = np.array(CATEGORIES, dtype=object)[rng.integers(0, 4, n)]
        n_tags = rng.integers(0, 4, n)
        missing = rng.random(n) * 10.0
        return {
            "id": ids.astype(np.int64),
            "vector": vec,
            "category": list(cat),
            "price": list(rng.random(n) * 100.0),
            "score_i": list(rng.integers(0, 1000, n)),
            "tags": [list(rng.choice(TAG_POOL, size=int(t), replace=False))
                     for t in n_tags],
            "flag": list(rng.random(n) < 0.5),
            "ts": list(ts0 + np.arange(n, dtype=np.int64) * 1000),
            "text": _texts(rng, n, 5, 15),
            "missing_field": [None if m else float(x) for m, x in
                              zip(rng.random(n) < 0.3, missing)],
        }


def _to_arrow(cols: dict) -> pa.Table:
    n = len(cols["id"])
    return pa.table({
        "id": pa.array(cols["id"], pa.int64()),
        "vector": pa.FixedSizeListArray.from_arrays(
            pa.array(cols["vector"].reshape(-1), pa.float32()),
            cols["vector"].shape[1]).cast(pa.list_(pa.float32())),
        "category": pa.array(cols["category"], pa.string()),
        "price": pa.array(cols["price"], pa.float64()),
        "score_i": pa.array(cols["score_i"], pa.int64()),
        "tags": pa.array(cols["tags"], pa.list_(pa.string())),
        "flag": pa.array(cols["flag"], pa.bool_()),
        "ts": pa.array(cols["ts"], pa.int64()),
        "payload": pa.array(
            [json.dumps({"desc": f"{cols['category'][i]}-{cols['id'][i]}"}).encode()
             for i in range(n)], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "missing_field": pa.array(cols["missing_field"], pa.float64()),
    })


def exact_topk(vectors: np.ndarray, ids: np.ndarray, q: np.ndarray,
               k: int = K) -> tuple[np.ndarray, np.ndarray]:
    """(ids, squared-L2 scores) of the k nearest rows, ties by (score, id)."""
    if len(ids) == 0:
        return ids[:0], np.zeros(0)
    d = ((vectors.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def generate(workload: str, seed: int, out: str, smoke: bool = False) -> None:
    """Write every input file of one run into `out`."""
    spec = spec_for(workload, smoke)
    rng = np.random.default_rng([seed, sorted(SPECS).index(workload)])
    os.makedirs(out, exist_ok=True)
    gen = Rows(rng, spec)

    base = gen.table(np.arange(1, spec.rows + 1), 1_700_000_000_000)
    # edge-case rows (FIXTURES.md): zero vector, duplicate vector with a
    # distinct id, all-null metadata row
    base["vector"][0] = 0.0
    base["vector"][2] = base["vector"][1]
    for c in ("category", "price", "score_i", "tags", "missing_field"):
        base[c][3] = None
    _write(_to_arrow(base), out, "t1.parquet")

    # query pool: a perturbed table row each, 2-5 query words
    n_q = max(spec.queries, spec.batch_queries)
    anchor = rng.choice(spec.rows, size=n_q, replace=False)
    qvec = (base["vector"][anchor]
            + rng.normal(0, 0.05, (n_q, spec.dim))).astype(np.float32)
    qtext = _texts(rng, n_q, 2, 5)
    names = list(FILTERS)
    _write(pa.table({
        "qid": pa.array(np.arange(n_q), pa.int64()),
        "qvector": pa.array(list(qvec), pa.list_(pa.float32())),
        "qtext": pa.array(qtext, pa.string()),
        "k": pa.array([K] * n_q, pa.int32()),
        "sel_filter": pa.array([names[i % len(names)] for i in range(n_q)]),
    }), out, "t2.parquet")

    # T3: base ids tombstoned while the table loads (never the edge rows)
    base_deletes = sorted(int(i) for i in rng.choice(
        np.arange(5, spec.rows + 1), size=spec.base_deletes, replace=False))

    # ground truth over the live base rows, per (query, filter)
    ids = base["id"]
    alive = ~np.isin(ids, base_deletes)
    truth = {}
    for name, (_, pred) in FILTERS.items():
        mask = alive & np.array([pred(c, p) for c, p in
                                 zip(base["category"], base["price"])])
        for qi in range(spec.queries):
            t_ids, t_d = exact_topk(base["vector"][mask], ids[mask], qvec[qi])
            truth[f"{name}/{qi}/ids"] = t_ids
            truth[f"{name}/{qi}/d"] = t_d
    with open(os.path.join(out, "truth.npz"), "wb") as fh:
        np.savez(fh, **truth)

    # write rounds: new rows, upserts (same id, new row) and deletes,
    # drawn from ids no earlier round removed
    live = [i for i in range(1, spec.rows + 1) if i not in set(base_deletes)]
    next_id = spec.rows + 1
    rounds = []
    for r in range(spec.rounds):
        pick = rng.choice(len(live), size=spec.upserts + spec.deletes, replace=False)
        chosen = [live[i] for i in pick]
        ups, dels = sorted(chosen[:spec.upserts]), sorted(chosen[spec.upserts:])
        new_ids = np.arange(next_id, next_id + spec.new_rows)
        next_id += spec.new_rows
        batch = gen.table(np.concatenate([new_ids, np.array(ups, np.int64)]),
                          1_800_000_000_000 + r * 10_000_000)
        _write(_to_arrow(batch), out, f"churn-{r:02d}.parquet")
        rounds.append({"upserts": ups, "deletes": dels,
                       "new": [int(new_ids[0]), int(new_ids[-1])]})
        dead = set(dels)
        live = [i for i in live if i not in dead] + [int(i) for i in new_ids]

    # read schedule: which pool query each read uses
    n_sched = 4096
    if spec.zipf_queries:
        sched = rng.choice(spec.queries, size=n_sched, p=zipf_probs(spec.queries))
    else:
        sched = np.resize(rng.permutation(spec.queries), n_sched)
    plan = {
        "workload": workload, "seed": seed, "spec": spec.__dict__,
        "base_deletes": base_deletes, "rounds": rounds, "schedule": [int(x) for x in sched],
    }
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan, fh, sort_keys=True)


def _write(table: pa.Table, out: str, name: str) -> None:
    pq.write_table(table, os.path.join(out, name), compression="snappy")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SPECS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes (tests)")
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.smoke)


if __name__ == "__main__":
    main()
