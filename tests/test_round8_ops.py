"""Semantic invariants for the round-8 operators (value-level
correctness is the DuckDB oracle gate; these pin properties the
oracle can't state)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysqldatasynctool_spark.operators import similarity as sim

SF = "/root/testdata/sf0.01"


def test_mmr_ann_picks_stay_in_query_bucket(spark):
    """Every ANN-MMR pick must share its query's LSH bucket (the
    candidate stage is the single-probe bucket equi-join), ranks are
    contiguous from 1, and picks are distinct."""
    ann = sim.similarity_mmr_ann(spark, SF).collect()
    assert ann
    emb = sim._with_norm(sim._vecs(spark, SF)).withColumn(
        "bucket", sim._bucket_expr(F.col("v"))
    )
    buckets = {
        r.vec_id: r.bucket for r in emb.select("vec_id", "bucket").collect()
    }
    by_q: dict = {}
    for r in ann:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len({r.vec_id for r in rs}) == len(rs)
        for r in rs:
            assert buckets[r.vec_id] == buckets[qid]
            assert r.vec_id != qid


def test_mmr_ann_first_pick_is_in_bucket_argmax(spark):
    """The first MMR pick carries no diversity penalty, so it must be
    the highest-relevance member of the query's bucket (checked to a
    1e-9 cosine tolerance — numpy's blocked matmul vs the engine's
    sequential fold differ only in last bits)."""
    import numpy as np

    rows = (
        sim._with_norm(sim._vecs(spark, SF))
        .withColumn("bucket", sim._bucket_expr(F.col("v")))
        .select("vec_id", "v", "vnorm", "bucket")
        .collect()
    )
    vec = {r.vec_id: np.array(r.v) for r in rows}
    norm = {r.vec_id: r.vnorm for r in rows}
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r.vec_id)
    bucket_of = {r.vec_id: r.bucket for r in rows}
    first_picks = {
        r.qid: r.vec_id
        for r in sim.similarity_mmr_ann(spark, SF).collect()
        if r.rank == 1
    }
    assert first_picks
    for qid, pick in first_picks.items():
        members = [i for i in by_bucket[bucket_of[qid]] if i != qid]
        cos = {
            i: float(vec[qid] @ vec[i]) / (norm[qid] * norm[i])
            for i in members
        }
        assert cos[pick] >= max(cos.values()) - 1e-9


def test_lsh_stress_recall_matches_banding_theory(spark):
    """Scaled stress (x3 here for CI speed; bench runs x10): planted
    near-dup recall must track the independent-permutation banding
    S-curve — the r7 affine family failed exactly this (measured ~8
    points under theory), which is what this gate now pins."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from lsh_stress import run_stress

    rep = run_stress(spark, "/root/testdata/sf0.1", factor=3, seed=8)
    j70 = rep["planted_j70"]
    assert j70["n_truth"] > 100
    assert j70["recall"] >= 0.95
    # measured within a few points of the theoretical expectation —
    # both directions (a large positive gap would mean the planted
    # truth is mislabeled)
    assert abs(j70["recall"] - j70["recall_expected"]) < 0.04
    assert abs(rep["planted_all"]["recall"] - rep["planted_all"]["recall_expected"]) < 0.05


def test_containment_bounds_and_direction(spark):
    """Containment ppm is in (0, 1e6], containment >= Jaccard on both
    sides (|A∩B|/|A| >= |A∩B|/|A∪B|), and the direction label matches
    the larger side."""
    from mysqldatasynctool_spark.operators import dedup

    rows = dedup.dedup_minhash_containment(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.cont_a_ppm <= 1_000_000
        assert 0 < r.cont_b_ppm <= 1_000_000
        assert max(r.cont_a_ppm, r.cont_b_ppm) >= dedup.CONTAINMENT_PPM
        # containment dominates jaccard (ppm vs 6dp float; 1 ulp slack)
        assert max(r.cont_a_ppm, r.cont_b_ppm) / 1e6 >= r.jaccard - 1e-6
        expect = "a_in_b" if r.cont_a_ppm >= r.cont_b_ppm else "b_in_a"
        assert r.direction == expect


def test_ann_recall_report_consistency(spark):
    """n_found <= n_truth per method, recall_ppm is the exact integer
    division, and the truth count matches the bruteforce frame."""
    rep = {r.method: r for r in sim.similarity_ann_recall_report(spark, SF).collect()}
    assert set(rep) == {"ivf_pandas", "ivfpq", "lsh_bucketed", "lsh_multiprobe"}
    n_truth = sim.similarity_topk_bruteforce(spark, SF).count()
    for r in rep.values():
        assert r.n_truth == n_truth
        assert 0 <= r.n_found <= r.n_truth
        assert r.recall_ppm == (1_000_000 * r.n_found) // r.n_truth
        assert r.n_found > 0  # both ANN paths must find SOMETHING


def test_multiprobe_recall_dominates_single_probe(spark):
    """Hamming-1 probing must find a SUPERSET of the single-probe
    pairs (the own-bucket probe is in the schedule), so its recall in
    the report dominates, and every single-probe top-k pair whose rank
    survives re-ranking stays discoverable."""
    rep = {
        r.method: r
        for r in sim.similarity_ann_recall_report(spark, SF).collect()
    }
    assert rep["lsh_multiprobe"].n_found >= rep["lsh_bucketed"].n_found
    single = sim.similarity_lsh_bucketed(spark, SF).collect()
    multi = sim.similarity_lsh_multiprobe(spark, SF).collect()
    assert multi  # non-degenerate
    # the multiprobe TOP-K may displace a single-probe pair only with
    # a better cosine; spot-check via rank-1 rows: the multiprobe
    # rank-1 cosine per query is >= the single-probe rank-1 cosine
    s1 = {r.qid: r.cosine for r in single if r.rank == 1}
    m1 = {r.qid: r.cosine for r in multi if r.rank == 1}
    for qid, c in s1.items():
        assert m1[qid] >= c


def test_flip_bit_properties(spark):
    """Hypothesis-style property pins for the multiprobe schedule
    helper: flipping is an involution, changes exactly one position,
    and the probe schedule enumerates each Hamming-1 neighbor once."""
    from itertools import product

    from pyspark.sql import functions as F

    n_bits = 4
    buckets = ["".join(p) for p in product("01", repeat=n_bits)]
    df = spark.createDataFrame([(b,) for b in buckets], ["bucket"])
    cols = [
        sim._flip_bit(F.col("bucket"), i, n_bits).alias(f"f{i}")
        for i in range(1, n_bits + 1)
    ]
    rows = df.select("bucket", *cols).collect()
    for r in rows:
        flips = [r[f"f{i}"] for i in range(1, n_bits + 1)]
        # exactly one position differs, at the flipped index
        for i, fb in enumerate(flips, start=1):
            diff = [j for j in range(n_bits) if fb[j] != r.bucket[j]]
            assert diff == [i - 1]
        # all Hamming-1 neighbors enumerated exactly once
        assert len(set(flips)) == n_bits
        assert r.bucket not in flips


def test_pq_audit_invariants(spark):
    """Reconstruction error is non-negative, the max dominates the
    mean, compression ratio is the fixed 128x (512B float64 -> 4B
    codes), and a vector that IS a codeword reconstructs exactly."""
    rows = sim.similarity_pq_audit(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.mse_q >= 0 and r.max_err >= r.mse_q
        assert r.compression_x == 512 // sim.PQ_BLOCKS
        assert r.n_vectors > 0


def test_ivfpq_bounded_by_exact_cell_search(spark):
    """IVFPQ cannot beat the exact multi-probe search it approximates:
    per query, its best cosine <= the best cosine of an EXACT scan of
    the same (derived) probe budget's cells (r10: ivfpq went multi-probe,
    so the old single-cell ceiling no longer applies — a probed
    neighbor cell can legitimately hold a better neighbor than the
    query's own cell). Result counts <= TOP_K, ranks contiguous."""
    ivfpq: dict = {}
    for r in sim.similarity_ivfpq_topk(spark, SF).collect():
        ivfpq.setdefault(r.qid, []).append(r)
    exact1 = {
        r.qid: r.cosine
        for r in sim.similarity_ivf_pandas(
            spark, SF, probes=sim.ivfpq_probes_for(SF)
        ).collect()
        if r.rank == 1
    }
    assert ivfpq
    for qid, rs in ivfpq.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= sim.TOP_K
        best = max(r.cosine for r in rs)
        assert best <= exact1[qid] + 1e-9


def test_bm25_invariants(spark):
    """BM25 retrieval (r11): 5 two-term queries exist, ranks are
    contiguous, scores are non-increasing within a query, every score
    is positive (Lucene idf is strictly positive), and a doc hitting
    both query terms scores at least one single-term hit of the same
    doc-length profile — spot-checked via n_terms_hit monotonicity of
    the top rank."""
    from mysqldatasynctool_spark.operators import textops as tx

    rows = tx.text_bm25_topk(spark, SF).collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(range(5))
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= tx.BM25_TOP_DOCS
        scores = [r.bm25 for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)
        assert all(1 <= r.n_terms_hit <= 2 for r in rs)


def test_hybrid_rrf_invariants(spark):
    """RRF fusion (r11): every query doc appears; a doc on BOTH lists
    outranks the same-rank doc on one list (1/(60+r) contributions are
    additive); rrf values match the closed form of the carried ranks;
    ranks contiguous."""
    rows = sim.similarity_hybrid_rrf(spark, SF).collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        for r in rs:
            assert r.lex_rank is not None or r.sem_rank is not None
            expect = 0.0
            if r.lex_rank is not None:
                expect += round(1.0 / (sim.RRF_K + r.lex_rank), 9)
            if r.sem_rank is not None:
                expect += round(1.0 / (sim.RRF_K + r.sem_rank), 9)
            assert abs(r.rrf - round(expect, 6)) < 1e-9
        scores = [r.rrf for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_cluster_topics_invariants(spark):
    """Cluster topic profiling (r11): per cell ranks are contiguous
    and capped at TOP_K; lift is non-increasing within a cell (count
    desc / token asc on ties); every reported n_docs is consistent
    across the cell's rows and sums to the embedded-doc count (doc_id
    is a vec_id in the fixtures, inner-join semantics); lift_milli of
    a top term is >= 1000 (a most-distinctive term can't be UNDER
    corpus share unless the cell vocabulary is degenerate — and the
    fixture cells aren't)."""
    from mysqldatasynctool_spark.sources.fixtures import load

    rows = sim.similarity_cluster_topics(spark, SF).collect()
    assert rows
    n_docs_total = (
        load(spark, SF, "documents")
        .join(
            load(spark, SF, "embeddings"),
            F.col("doc_id") == F.col("vec_id"),
        )
        .count()
    )
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    assert sum(cs[0].n_docs for cs in by_cell.values()) == n_docs_total
    for cell, rs in by_cell.items():
        rs = sorted(rs, key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= sim.CLUSTER_TOPICS_TOP_K
        assert len({r.n_docs for r in rs}) == 1
        lifts = [r.lift_milli for r in rs]
        assert lifts == sorted(lifts, reverse=True)
        assert lifts[0] >= 1000
        for a, b in zip(rs, rs[1:]):
            if a.lift_milli == b.lift_milli:
                assert a.token_cnt > b.token_cnt or (
                    a.token_cnt == b.token_cnt and a.token < b.token
                )


def test_cluster_balanced_sample_invariants(spark):
    """Cluster-balanced subsample (r11): <= K docs per cell with
    contiguous md5-rank positions; n_cell is consistent per cell and
    sums to the embedded-doc count; every cell with fewer than K docs
    is fully taken (len == n_cell); no doc appears twice."""
    from mysqldatasynctool_spark.operators import pipeline as pl

    rows = pl.pipeline_cluster_balanced_sample(spark, SF).collect()
    assert rows
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    assert sum(cs[0].n_cell for cs in by_cell.values()) == 500
    for cell, rs in by_cell.items():
        rs = sorted(rs, key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= pl.CLUSTER_SAMPLE_K
        assert len({r.n_cell for r in rs}) == 1
        if rs[0].n_cell < pl.CLUSTER_SAMPLE_K:
            assert len(rs) == rs[0].n_cell


def test_pca_rayleigh_ascent_invariants(spark):
    """Power-iteration spectral audit (r11): the Rayleigh quotient is
    MONOTONE non-decreasing across iterations (the PSD-covariance
    guarantee this entry's contract gates — each step must strictly
    help on the fixture's non-degenerate spectrum), the share is the
    exact floor-ppm of var_along/var_total within rounding, var_total
    is constant, and every share sits in (0, 1e6]."""
    rows = sorted(
        sim.similarity_pca_power_iteration(spark, SF).collect(),
        key=lambda r: r.iter,
    )
    assert [r.iter for r in rows] == list(range(sim.POWER_ITERS + 1))
    assert len({r.var_total for r in rows}) == 1
    shares = [r.var_share_ppm for r in rows]
    assert all(0 < s <= 1_000_000 for s in shares)
    assert shares == sorted(shares)  # monotone ascent
    assert shares[-1] > shares[0]  # and it actually moved
    for r in rows:
        # floor-ppm consistency vs the rounded readouts (1 ppm slack
        # for the 6-dp rounding of var_along)
        approx = 1_000_000 * r.var_along / r.var_total
        assert abs(r.var_share_ppm - approx) <= 60


def test_incremental_index_invariants(spark):
    """Incremental index maintenance (r11): every base vector and
    every incoming vector lands in exactly one cell (count
    conservation on both sides); shares are the exact integer ppm of
    the reported counts; drift_milli is the exact integer formula; a
    cell with zero new members reports drift 0; the incoming batch is
    non-empty and strictly smaller than the base."""
    rows = sim.similarity_incremental_index(spark, SF).collect()
    assert rows
    n_vec = sim._vecs(spark, SF).count()
    t_new = n_vec // sim.INCR_INDEX_MOD  # vec_ids are 0..n-1
    t_base = n_vec - t_new
    assert 0 < t_new < t_base
    assert sum(r.n_base for r in rows) == t_base
    assert sum(r.n_new for r in rows) == t_new
    assert len({r.cell for r in rows}) == len(rows)
    for r in rows:
        assert r.share_base_ppm == (1_000_000 * r.n_base) // t_base
        assert r.share_new_ppm == (1_000_000 * r.n_new) // t_new
        assert r.drift_milli == (r.share_new_ppm * 1000) // max(
            r.share_base_ppm, 1
        )
        if r.n_new == 0:
            assert r.drift_milli == 0


def test_quality_weighted_sample_invariants(spark):
    """Quality-weighted sampler (r11): acceptance matches the stated
    rule row-for-row (draw < floor + decile*gain), deciles come from
    the 4/3/3 component grid, the kept fraction per decile brackets
    its keep-probability (binomial, wide tolerance at fixture n), and
    higher deciles never keep a smaller fraction than decile 0."""
    from mysqldatasynctool_spark.operators import pipeline as pl

    kept = pl.pipeline_quality_weighted_sample(spark, SF).collect()
    assert kept
    total = 500
    assert len(kept) < total  # it actually thinned something
    for r in kept:
        assert r.quality_decile in (0, 3, 4, 6, 7, 10)
        assert r.keep_ppm == pl.QWS_FLOOR_PPM + r.quality_decile * pl.QWS_GAIN_PPM
        assert 0 <= r.draw_ppm < 1_000_000
        assert r.draw_ppm < r.keep_ppm
    ten = [r for r in kept if r.quality_decile == 10]
    # decile-10 docs are kept with probability 1 — every one survives,
    # so their count must equal the corpus-side count of that decile
    from mysqldatasynctool_spark.operators.textops import text_quality_score

    full = text_quality_score(spark, SF).collect()
    n_ten_corpus = sum(1 for r in full if abs(r.quality_score - 1.0) < 1e-9)
    assert len(ten) == n_ten_corpus


def test_audio_windows_invariants(spark):
    """Audio windowing (r11): window starts advance by HOP with 50%
    OVERLAP (consecutive windows share bytes — the property the
    disjoint frame sampler can't have), indices are contiguous per
    doc, only full windows emit (start + WINDOW <= payload length),
    and the integer energy is bounded by WINDOW * 128^2."""
    from mysqldatasynctool_spark.functions.multimodal import (
        AUDIO_HOP,
        AUDIO_WINDOW,
    )
    from mysqldatasynctool_spark.operators.multimodal import (
        multimodal_audio_windows,
    )
    from mysqldatasynctool_spark.sources.fixtures import load

    rows = multimodal_audio_windows(spark, SF).collect()
    assert rows
    n_bytes = {
        r.doc_id: r.n
        for r in load(spark, SF, "documents")
        .select("doc_id", F.length(F.encode("text", "utf-8")).alias("n"))
        .collect()
    }
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert AUDIO_HOP < AUDIO_WINDOW  # the overlap contract itself
    for doc_id, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: r.win_idx)
        assert [r.win_idx for r in rs] == list(range(len(rs)))
        for i, r in enumerate(rs):
            assert r.start == i * AUDIO_HOP
            assert r.n_samples == AUDIO_WINDOW
            assert r.start + AUDIO_WINDOW <= n_bytes[doc_id]
            assert 0 <= r.energy <= AUDIO_WINDOW * 128 * 128
        # every full window emitted: the count is exactly
        # floor((n - WINDOW)/HOP) + 1
        expect = (n_bytes[doc_id] - AUDIO_WINDOW) // AUDIO_HOP + 1
        assert len(rs) == expect
    # docs shorter than one window emit nothing
    for doc_id, n in n_bytes.items():
        if n < AUDIO_WINDOW:
            assert doc_id not in by_doc


def test_token_budget_planner_invariants(spark):
    """Token-budget planner (r11): both branches execute on the
    fixture (some language caps, at least one absorbs overflow);
    allocations never exceed availability; capped languages allocate
    exactly their availability (epochs_milli == 1000); the budget is
    conserved (sum(alloc) + unallocated == budget, unallocated >= 0
    and small — integer flooring dust only, bounded by #langs after
    one water-filling round when capacity remains)."""
    from mysqldatasynctool_spark.operators import pipeline as pl

    rows = pl.pipeline_token_budget_planner(spark, SF).collect()
    assert rows
    assert len({r.budget for r in rows}) == 1
    budget = rows[0].budget
    assert any(r.capped for r in rows)
    assert any(not r.capped for r in rows)
    for r in rows:
        assert 0 <= r.alloc <= r.avail_tokens
        assert r.epochs_milli == (1000 * r.alloc) // r.avail_tokens
        if r.capped:
            assert r.alloc == r.avail_tokens
            assert r.epochs_milli == 1000
    assert sum(r.alloc for r in rows) + rows[0].unallocated == budget
    assert rows[0].unallocated >= 0
    # if any uncapped language still has headroom, the leftover is
    # flooring dust: strictly less than one token per language
    headroom = [r for r in rows if not r.capped and r.alloc < r.avail_tokens]
    if headroom:
        assert rows[0].unallocated <= len(rows)
