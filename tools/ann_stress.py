"""Seeded ×N synthetic extension of the embeddings corpus with PLANTED
near neighbors — the beyond-fixture stress for the ANN retrieval funnel
(VERDICT r10 item 3: the dedup family proves recall == theory at ×10 via
lsh_stress; similarity had no planted-truth equivalent, so Lloyd-training
gains could not be regression-gated).

Corpus construction (numpy.RandomState(seed)-deterministic):
- (factor-1)·N filler vectors are perturbed BOOTSTRAP copies of random
  base vectors (parent cosine ~[0.5, 0.8]), preserving the fixture's
  cluster geometry at ×10 — i.i.d. gaussian fillers were rejected:
  they make the corpus isotropic, the degenerate worst case where ANY
  coarse quantizer's cells are arbitrary sphere caps (measured: the
  EXACT in-probed-cells ceiling drops from 0.81 to 0.60 at probes=16),
  so they measure the geometry, not the implementation — the same
  reasoning lsh_stress applies to sub-threshold Jaccard pairs;
- n_planted query/neighbor pairs (queries themselves bootstrapped, so
  they're in-distribution): the neighbor is the query plus gaussian
  noise scaled so the pair's cosine lands in ~[0.83, 0.95], well above
  the filler parent-cosine band.

Ground truth is computed EXACTLY at generation time with one
queries×corpus matmul (linear in the corpus, not quadratic — the whole
point vs running similarity_topk_bruteforce at 20k vectors), under the
registry's own ranking discipline (6-dp-rounded cosine, ties by
ascending neighbor id). Query ids are ≡ 0 (mod 50) to match the
registry entries' built-in query panel.

Scored methods: ``similarity_ivfpq_topk`` (the trained-funnel capstone)
and ``similarity_lsh_multiprobe`` (the multi-table production LSH) —
the two entries r11 gates at ≥ 0.70 / ≥ 0.60 recall@5.

Standalone: python tools/ann_stress.py [factor] [seed] > out.json
prints the report as JSON; ``python tools/stress_record.py --no-ann
ann_recall_10x=out.json`` merges it into the committed STRESS record
(tools/stress_record.py [factor] [seed] runs it in-process instead).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

#: planted pairs (also the number of extra queries beyond the base
#: corpus panel); bounded so the ×10 run stays seconds-scale
N_PLANTED = 200
TOP_K = 5


def build_stress_corpus(
    base,  # pandas DataFrame: vec_id, label, embedding
    factor: int = 10,
    seed: int = 8,
    n_planted: int = N_PLANTED,
):
    """Returns ``(out_dir, truth)`` where out_dir holds an
    ``embeddings.parquet`` of ``factor * len(base)`` rows and ``truth``
    maps each query vec_id (≡ 0 mod 50) to its EXACT top-K neighbor id
    set under the registry ranking discipline.

    Caller owns out_dir (a fresh mkdtemp) and must rmtree it.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    X0 = np.stack([np.asarray(v, dtype=np.float64) for v in base["embedding"]])
    n_base, dim = X0.shape
    labels = sorted(set(base["label"]))

    # ids: fillers/neighbors must NOT be ≡ 0 (mod 50) (they would
    # silently widen the query panel); planted queries MUST be.
    n_fill = (factor - 1) * n_base - 2 * n_planted
    fill_ids, next_id = [], 1_000_001
    while len(fill_ids) < n_fill:
        if next_id % 50 != 0:
            fill_ids.append(next_id)
        next_id += 1
    q_ids = [2_000_000 + 50 * k for k in range(n_planted)]  # ≡ 0 mod 50
    nb_ids, nid = [], 3_000_001
    while len(nb_ids) < n_planted:
        if nid % 50 != 0:
            nb_ids.append(nid)
        nid += 1

    def _perturb(parents_mat, eps_lo, eps_hi):
        """parent + unit-noise·eps·|parent|: for isotropic noise the
        child-parent cosine is ~1/sqrt(1+eps²) — eps [0.75, 1.73] →
        cosine ~[0.5, 0.8] (fillers), eps [0.33, 0.66] → ~[0.83, 0.95]
        (planted neighbors)."""
        n = len(parents_mat)
        eps = rng.uniform(eps_lo, eps_hi, size=n)
        noise = rng.normal(0.0, 1.0, size=(n, dim))
        noise /= np.linalg.norm(noise, axis=1, keepdims=True)
        pn = np.linalg.norm(parents_mat, axis=1, keepdims=True)
        return parents_mat + noise * eps[:, None] * pn

    fillers = _perturb(X0[rng.choice(n_base, size=n_fill)], 0.75, 1.73)
    q_vecs = _perturb(X0[rng.choice(n_base, size=n_planted)], 0.75, 1.73)
    nb_vecs = _perturb(q_vecs, 0.33, 0.66)

    ids = np.concatenate(
        [base["vec_id"].to_numpy(), fill_ids, q_ids, nb_ids]
    ).astype("int64")
    X = np.vstack([X0, fillers, q_vecs, nb_vecs])
    assert len(ids) == factor * n_base == len(set(ids))

    # EXACT truth for every query in the panel (base ≡0-mod-50 rows +
    # planted queries): one queries×corpus matmul, ranked exactly as
    # the registry does (6-dp round, ties by ascending neighbor id)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    q_mask = ids % 50 == 0
    q_idx = np.where(q_mask)[0]
    sims = np.round(Xn[q_idx] @ Xn.T, 6)
    truth = {}
    for row, qi in enumerate(q_idx):
        s = sims[row].copy()
        s[qi] = -2.0  # exclude self
        order = np.lexsort((ids, -s))[:TOP_K]
        truth[int(ids[qi])] = {int(i) for i in ids[order]}

    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "label": [labels[i % len(labels)] for i in range(len(ids))],
            "embedding": [row.astype(np.float64).tolist() for row in X],
        }
    )
    out_dir = tempfile.mkdtemp(prefix=f"ann_stress_{factor}x_")
    # bounded row groups (r16): pyarrow's default writes ONE row group
    # for any corpus under ~1 Mi rows, and Spark assigns a whole row
    # group to the single split containing its start — so every corpus
    # scan in the stressed operators (each Lloyd iteration, each
    # assignment pass) ran as ONE task while 31 cores idled. Measured
    # at ×300 (600 k vectors) as ~10-minute single-task straggler
    # stages. 20 k-row groups give ~N/20k independently readable
    # chunks — the multi-file layout any real corpus has.
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(out_dir, "embeddings.parquet"),
        row_group_size=20_000,
    )
    return out_dir, truth


def run_stress_ann(spark, sf_dir: str, factor: int = 10, seed: int = 8) -> dict:
    """Generate the ×factor corpus, run the gated ANN registry entries
    over it, and score recall@5 against the exact generation-time
    truth — overall AND restricted to the planted pairs (the planted
    slice isolates 'does the index find KNOWN strong neighbors' from
    panel queries whose true neighbors may sit at background cosine).
    """
    import time

    import pandas as pd

    from mysqldatasynctool_spark.operators.similarity import (
        similarity_ivfpq_topk,
        similarity_lsh_multiprobe,
    )

    base = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out_dir, truth = build_stress_corpus(base, factor=factor, seed=seed)
    planted_q = {q for q in truth if q >= 2_000_000}
    methods = {
        "ivfpq": similarity_ivfpq_topk,
        "lsh_multiprobe": similarity_lsh_multiprobe,
    }
    try:
        report: dict = {
            "n_vectors": factor * len(base),
            "factor": factor,
            "seed": seed,
            "n_queries": len(truth),
            "n_planted": len(planted_q),
        }
        for name, fn in sorted(methods.items()):
            t0 = time.monotonic()
            found: dict = {}
            for r in fn(spark, out_dir).select("qid", "neighbor_id").collect():
                found.setdefault(int(r.qid), set()).add(int(r.neighbor_id))
            wall = round(time.monotonic() - t0, 3)

            def recall(qs):
                n_t = sum(len(truth[q]) for q in qs)
                n_h = sum(len(truth[q] & found.get(q, set())) for q in qs)
                return round(n_h / n_t, 4) if n_t else None

            report[name] = {
                "wall_sec": wall,
                "recall_all": recall(truth.keys()),
                "recall_planted": recall(planted_q),
            }
        return report
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def main() -> int:
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from mysqldatasynctool_spark.session import get_spark

    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ann_stress")
    try:
        print(json.dumps(run_stress_ann(spark, sf_dir, factor=factor, seed=seed)))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
