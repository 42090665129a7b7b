"""Seeded ×N synthetic extension of the documents corpus with PLANTED
near-duplicates — the beyond-fixture stress for the MinHash-LSH
banding parameters (VERDICT r7 item 6: they were only ever validated
at fixture scale).

The extension keeps the fixture's token statistics (same vocabulary,
same length distribution) so shingle/bucket behavior extrapolates, and
plants pairs whose EXACT 3-gram Jaccard is computed at generation time
— giving a linear-cost ground truth at a scale where the quadratic
all-pairs truth (dedup_ngram_jaccard) is infeasible. Planted mutation
rates are drawn so true Jaccard lands in ~[0.55, 0.95] — the regime
the 4-band × 2-row banding targets (its S-curve threshold is
(1/b)^(1/r) = 0.5; pairs far below that are EXPECTED to be lost, so
planting them would measure the curve, not the implementation).

Everything is numpy.RandomState(seed)-deterministic: same seed → same
corpus, same planted truth, same recall.

Why documents-only (no embeddings block): MinHash banding is a
STATISTICAL estimator — its recall is a property of the hash family
that only becomes measurable at scale, which is exactly how this
harness caught the r8 correlated-affine-family bug. The embedding
path (dedup_embedding_lsh / similarity_lsh_bucketed) has no such
hidden estimator: the sign-bit bucket is a DETERMINISTIC function of
each vector, so "is a planted pair found" is decidable per pair at
any corpus size and is already pinned bit-for-bit by the DuckDB
oracle gates at three scales. A 10x embedding corpus would re-test
the same deterministic predicate at O(sum bucket²) fold-dot cost
without adding information; the statistical knob there (probe
schedule vs recall) is instead tracked by
similarity_ann_recall_report.

Standalone: python tools/lsh_stress.py [factor] [seed] > out.json
prints the report as JSON; ``python tools/stress_record.py --no-ann
lsh_recall_10x=out.json`` merges it into the committed STRESS record.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile


def _trigram_set(tokens: list[str]) -> set[str]:
    return {
        " ".join(tokens[i : i + 3]) for i in range(len(tokens) - 2)
    }


def build_stress_corpus(
    base_docs,  # pandas DataFrame: doc_id, text, lang, source, n_chars
    factor: int = 10,
    seed: int = 8,
    n_planted: int = 400,
    jaccard_threshold: float = 0.2,
):
    """Returns ``(out_dir, planted)`` where out_dir holds a
    ``documents.parquet`` of ``factor * len(base_docs)`` rows and
    ``planted`` is the list of ``(ida, idb, true_jaccard)`` planted
    pairs with true_jaccard >= jaccard_threshold (ida < idb).

    Caller owns out_dir (a fresh mkdtemp) and must rmtree it.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    base_tokens = [t.split() for t in base_docs["text"]]
    vocab = sorted({tok for toks in base_tokens for tok in toks})
    langs = sorted(base_docs["lang"].unique())
    sources = sorted(base_docs["source"].unique())
    lengths = np.array([len(t) for t in base_tokens])

    n_base = len(base_docs)
    n_synth = (factor - 1) * n_base - n_planted
    synth_base_id = 1_000_000
    dup_base_id = 2_000_000

    # random docs with the fixture's vocabulary and length profile
    rows = {
        "doc_id": list(base_docs["doc_id"]),
        "text": list(base_docs["text"]),
        "lang": list(base_docs["lang"]),
        "source": list(base_docs["source"]),
    }
    synth_texts: list[str] = []
    for i in range(n_synth):
        n = int(rng.choice(lengths))
        toks = rng.choice(vocab, size=n)
        synth_texts.append(" ".join(toks))
    rows["doc_id"] += [synth_base_id + i for i in range(n_synth)]
    rows["text"] += synth_texts
    rows["lang"] += list(rng.choice(langs, size=n_synth))
    rows["source"] += list(rng.choice(sources, size=n_synth))

    # planted near-dups: mutate a copy of a synthetic doc at a low
    # token-replacement rate; record the EXACT distinct-3-gram Jaccard
    planted: list[tuple[int, int, float]] = []
    dup_rows: list[tuple[int, str]] = []
    src_idx = rng.choice(n_synth, size=n_planted, replace=False)
    for k, si in enumerate(src_idx):
        src_id = synth_base_id + int(si)
        toks = synth_texts[si].split()
        rate = rng.uniform(0.01, 0.05)
        n_mut = max(1, int(round(rate * len(toks))))
        pos = rng.choice(len(toks), size=n_mut, replace=False)
        mut = list(toks)
        for p in pos:
            mut[p] = str(rng.choice(vocab))
        dup_id = dup_base_id + k
        dup_text = " ".join(mut)
        a, b = _trigram_set(toks), _trigram_set(mut)
        j = len(a & b) / len(a | b) if a | b else 1.0
        if j >= jaccard_threshold:
            planted.append((min(src_id, dup_id), max(src_id, dup_id), j))
        dup_rows.append((dup_id, dup_text))
    rows["doc_id"] += [d for d, _ in dup_rows]
    rows["text"] += [t for _, t in dup_rows]
    rows["lang"] += list(rng.choice(langs, size=n_planted))
    rows["source"] += list(rng.choice(sources, size=n_planted))

    pdf = pd.DataFrame(rows)
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pdf["doc_id"] = pdf["doc_id"].astype("int64")

    out_dir = tempfile.mkdtemp(prefix=f"lsh_stress_{factor}x_")
    # bounded row groups (r16, same fix as ann_stress): a single row
    # group makes every corpus scan single-task in Spark; 20 k-row
    # groups restore the parallel-read shape a real multi-file corpus
    # has.
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(out_dir, "documents.parquet"),
        row_group_size=20_000,
    )
    return out_dir, planted


def run_stress(
    spark, sf_dir: str, factor: int = 10, seed: int = 8
) -> dict:
    """Generate the ×factor corpus, run the registry MinHash-LSH over
    it, and score recall against the planted truth — stratified, with
    the BANDING-THEORY expectation next to each measurement.

    The b-band × r-row S-curve says a pair at true Jaccard j becomes a
    candidate with P = 1 − (1−j^r)^b; pairs below the curve's
    threshold are lost BY DESIGN, so raw recall conflates the curve
    with the implementation. Reporting measured vs expected (overall
    AND restricted to the j ≥ 0.7 regime the banding targets)
    separates them: an implementation bug shows up as measured ≪
    expected; a mis-tuned curve as low expected itself.
    """
    import time

    import pandas as pd

    from mysqldatasynctool_spark.operators.dedup import (
        BAND_ROWS,
        MINHASH_SEEDS,
        dedup_minhash_lsh,
    )

    base = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    out_dir, planted = build_stress_corpus(base, factor=factor, seed=seed)
    n_bands = MINHASH_SEEDS // BAND_ROWS
    try:
        t0 = time.monotonic()
        found = {
            (r.ida, r.idb)
            for r in dedup_minhash_lsh(spark, out_dir)
            .select("ida", "idb")
            .collect()
        }
        wall = round(time.monotonic() - t0, 3)

        def score(pairs):
            truth = {(a, b) for a, b, _ in pairs}
            hit = len(found & truth)
            expected = sum(
                1.0 - (1.0 - j**BAND_ROWS) ** n_bands for _, _, j in pairs
            )
            return {
                "n_truth": len(truth),
                "n_found": hit,
                "recall": round(hit / len(truth), 4) if truth else None,
                "recall_expected": (
                    round(expected / len(pairs), 4) if pairs else None
                ),
            }

        high = [p for p in planted if p[2] >= 0.7]
        return {
            "n_docs": factor * len(base),
            "factor": factor,
            "seed": seed,
            "wall_sec": wall,
            "n_pairs_found": len(found),
            "planted_all": score(planted),
            "planted_j70": score(high),
        }
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def main() -> int:
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mysqldatasynctool_spark.session import get_spark

    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="lsh_stress")
    try:
        print(json.dumps(run_stress(spark, sf_dir, factor=factor, seed=seed)))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
