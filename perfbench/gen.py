"""Seeded input generator for the VecDB benchmark.

Runs as its own process, while the benchmark starts Spark, so the
driver's peak memory counts only the program under test:

    python3 perfbench/gen.py --workload point-write --seed 7 --out DIR [--size tiny]

Everything written depends only on (workload, size, seed):

- ``base.parquet``: ``vec`` (list<float32>, dim 128), ``cat`` (one of 10
  values, so a ``cat`` predicate keeps about 10% of rows), ``doc`` (row id);
- ``queries.npy`` / ``queries.parquet``: held-out queries from the same
  Gaussian mixture (float32-representable; the parquet copy carries
  ``query_id`` and a ``list<double>`` vector for ``batch_search``);
- ``truth.npz`` (batch-scan): exact cosine top-10 doc ids per query,
  distances rounded half-up to the engine's 4 decimals, ties broken by
  doc id;
- batch-scan adds ``truth_cat.npz`` (top-10 inside each ``cat``);
- point-write writes ``writes/b<j>.parquet`` (append batches) and, in
  place of ``truth.npz``, the truth after each append, over the base and
  the first j+1 batches.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
K = 10
N_CATS = 10
N_CENTERS = 64
SPREAD = 0.35

# rows, held-out queries, append batches x rows, point reads per block/cycle
SIZES = {
    "full": {
        "batch-scan": {"n": 10_000, "nq": 500},
        "point-write": {"n": 10_000, "nq": 4_000, "batches": 20, "batch_rows": 500,
                        "reads": 2_000},
    },
    "tiny": {
        "batch-scan": {"n": 2_000, "nq": 50},
        "point-write": {"n": 2_000, "nq": 200, "batches": 6, "batch_rows": 200,
                        "reads": 50},
    },
}


def cosine_topk(queries: np.ndarray, base: np.ndarray, ids: np.ndarray,
                k: int = K) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k by cosine distance in f64, rounded half-up to 4
    decimals like the engine's results, ties broken by id."""
    q = queries.astype(np.float64)
    x = base.astype(np.float64)
    xn = np.linalg.norm(x, axis=1)
    out_i = np.empty((len(q), k), dtype=np.int64)
    out_d = np.empty((len(q), k), dtype=np.float64)
    for s in range(0, len(q), 256):
        qb = q[s:s + 256]
        denom = np.maximum(np.linalg.norm(qb, axis=1)[:, None] * xn[None, :], 1e-10)
        d = np.floor((1.0 - (qb @ x.T) / denom) * 1e4 + 0.5) / 1e4
        for r, dr in enumerate(d):
            cand = np.flatnonzero(dr <= np.partition(dr, k - 1)[k - 1])
            order = cand[np.lexsort((ids[cand], dr[cand]))][:k]
            out_i[s + r] = ids[order]
            out_d[s + r] = dr[order]
    return out_i, out_d


def mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    lab = rng.integers(0, len(centers), n)
    return (centers[lab] + SPREAD * rng.normal(size=(n, DIM))).astype(np.float32)


def write_rows(path: str, vecs: np.ndarray, cats: np.ndarray, docs: np.ndarray) -> None:
    tbl = pa.table({
        "vec": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), DIM).cast(pa.list_(pa.float32())),
        "cat": pa.array([f"c{c}" for c in cats]),
        "doc": pa.array(docs, pa.int64()),
    })
    pq.write_table(tbl, path)


def generate(workload: str, seed: int, out: str, size: str = "full") -> dict:
    cfg = SIZES[size][workload]
    # the mixture is fixed; the seed draws the sample from it, so seeds
    # differ in rows, not in how hard the data is to index
    centers = np.random.default_rng(DIM).normal(size=(N_CENTERS, DIM))
    rng = np.random.default_rng([seed, DIM])
    n, nq = cfg["n"], cfg["nq"]
    base = mixture(rng, centers, n)
    cats = rng.integers(0, N_CATS, n)
    docs = np.arange(n, dtype=np.int64)
    queries = mixture(rng, centers, nq)
    os.makedirs(out, exist_ok=True)
    write_rows(os.path.join(out, "base.parquet"), base, cats, docs)
    np.save(os.path.join(out, "queries.npy"), queries)
    pq.write_table(pa.table({
        "query_id": pa.array(np.arange(nq), pa.int64()),
        "vec": pa.array(list(queries.astype(np.float64)), pa.list_(pa.float64())),
    }), os.path.join(out, "queries.parquet"))
    manifest = {"workload": workload, "seed": seed, "size": size, "dim": DIM, **cfg}

    if workload == "batch-scan":
        ti, td = cosine_topk(queries, base, docs)
        np.savez(os.path.join(out, "truth.npz"), ids=ti, dist=td)
        per = [cosine_topk(queries, base[cats == c], docs[cats == c]) for c in range(N_CATS)]
        np.savez(os.path.join(out, "truth_cat.npz"),
                 ids=np.stack([p[0] for p in per]), dist=np.stack([p[1] for p in per]))
    if workload == "point-write":
        # truth_writes[j]: top-10 over the base plus batches 0..j, merged
        # from per-chunk top-10s
        wdir = os.path.join(out, "writes")
        os.makedirs(wdir, exist_ok=True)
        rows = cfg["batch_rows"]
        cand_i, cand_d = cosine_topk(queries, base, docs)
        truth, self_rows = [], []
        for j in range(cfg["batches"]):
            bv = mixture(rng, centers, rows)
            bd = n + j * rows + np.arange(rows, dtype=np.int64)
            write_rows(os.path.join(wdir, f"b{j}.parquet"), bv,
                       rng.integers(0, N_CATS, rows), bd)
            bi, bdist = cosine_topk(queries, bv, bd)
            cand_i = np.concatenate([cand_i, bi], axis=1)
            cand_d = np.concatenate([cand_d, bdist], axis=1)
            order = np.lexsort((cand_i, cand_d), axis=1)[:, :K]
            cand_i = np.take_along_axis(cand_i, order, axis=1)
            cand_d = np.take_along_axis(cand_d, order, axis=1)
            truth.append(cand_i)
            self_rows.append(int(rng.integers(0, rows)))
        np.savez(os.path.join(out, "truth_writes.npz"), ids=np.stack(truth),
                 self_rows=np.asarray(self_rows))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.size)


if __name__ == "__main__":
    main()
