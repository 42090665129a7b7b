"""Deduplication operators (north star — SURVEY.md §2B "Dedup").

Five dedup families over the fixture corpus, all oracle-checkable
because every hash involved is md5-derived (engine-portable):

- exact subset-key dedup (dropDuplicates semantics, kept deterministic
  via min-tiebreak groupBy);
- exact-content dedup via normalized-text fingerprint;
- MinHash + LSH banding near-dup candidates, verified with true
  shingle Jaccard (plus Broder CONTAINMENT over the same verified
  pairs — asymmetric near-subset detection with direction labels);
- n-gram Jaccard all-pairs near-dup (the brute-force truth the LSH
  path approximates);
- SimHash (bitwise majority of token hashes) + Hamming-distance pairs.

Scale story (100 TB corpus):
- exact/fingerprint: one shuffle on the 16-byte digest, partial agg
  map-side; never shuffles document text.
- MinHash LSH: explode shingles (map-side), aggregate 8 mins per doc
  (one shuffle keyed by doc), explode 4 band keys, self-join on band
  key (shuffle keyed by 32-byte band) — candidate pairs only, then
  verify. This is the linear-ish path; the all-pairs Jaccard below is
  quadratic and exists as ground truth at test scale.
- SimHash: signature is one agg; pairing is a lossless pigeonhole
  band join on 8-bit signature blocks (hamming ≤ 3 ⇒ one block
  identical), never an all-pairs cross join. Note: on this synthetic
  shared-vocab corpus the hamming≤3 result itself is near-quadratic
  (1.5M pairs at sf0.1) — the operator is output-bound there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    BAND_ROWS,
    MINHASH_SEEDS,
    normalized_text_col,
    tokens_col,
)
from ..sources.fixtures import load
from .similarity import (
    _E_CTE,
    _assign_cells,
    _bucket_expr,
    _cell_assign_prelude_sql,
    _in_cell,
    _lsh_bits_sql,
    _pair_cos_sql,
    _pair_cosine,
    _vecs,
    _with_norm,
    lsh_dims_for,
)

JACCARD_THRESHOLD = 0.2
SIMHASH_BITS = 32
SIMHASH_BLOCK_BITS = 8  # 4 blocks; hamming<=3 => >=1 identical block (pigeonhole)


def dedup_exact_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a column subset — dropDuplicates([cols])
    semantics made deterministic: keep the first event (min event_id)
    per (user_id, event_type) and report the duplicate count."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("kept_event_id"),
            F.count("*").alias("n_dupes"),
        )
        .orderBy("user_id", "event_type")
    )


DEDUP_EXACT_SUBSET_ORACLE = """
SELECT user_id, event_type,
       MIN(event_id) AS kept_event_id,
       COUNT(*) AS n_dupes
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup via normalized fingerprint: one row per
    distinct normalized text, keeping the smallest doc_id (the corpus
    has no exact dups, so n_copies is 1 everywhere — the near-dup
    operators below catch the planted ~0.99-Jaccard pairs)."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(normalized_text_col(F.col("text")))
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("kept_doc_id")
    )


DEDUP_EXACT_TEXT_ORACLE = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY kept_doc_id
"""


def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, 3-gram shingle) rows — the shared
    codegen-safe formulation (functions/text.distinct_ngram_rows; see
    its docstring for why NOT an array expression)."""
    from ..functions.text import distinct_ngram_rows

    return distinct_ngram_rows(load(spark, sf_dir, "documents"), 3, out_col="sh")


_DUCK_SHINGLES = r"""
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]
  )) AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, fully engine-portable and
    shuffle-minimal:

    - 8 INDEPENDENT 28-bit minhash values per shingle, drawn as
      disjoint 7-hex-char slices of TWO salted md5s
      (``md5('{s}:' || shingle)``, s ∈ {0,1} — slices of one md5 are
      random-oracle independent). History: r7 derived all 8 from ONE
      md5 via the affine family ``h1 + i*h2`` — cheapest, but the ×10
      stress harness (tools/lsh_stress.py) exposed that affine
      hashes' band collisions are CORRELATED, costing ~8–11 recall
      points vs the independent-permutation banding theory (measured
      0.91 vs expected 0.99 at J≥0.7; a pure-numpy simulation
      reproduces the gap). Early r8 used 4 salted md5s (60-bit
      halves); the slice form keeps the restored S-curve — the
      stress gate re-proves recall == theory on every change — at
      HALF the hash budget. TWO md5s IS the floor for this design
      (decided r10, closing the r8 hash-budget question): 8
      independent 7-hex slices need 56 hex chars and one md5 yields
      32, so a 1-md5 scheme forces either derived (correlated) values
      — the exact failure the stress gate caught in r7 — or 16-bit
      slices, whose min-collision rate (65k space vs ~100+ shingles/
      doc) inflates band false positives and verify cost. There is
      also no separate identity hash to fold away: mh0..mh3 already
      double as the verify identity (below), so the budget is
      irreducibly 2 md5 evaluations per (doc, shingle) row. 28-bit
      mins do admit chance band collisions (~1e-13/pair/band), but
      every candidate is Jaccard-verified, so they cost verify time,
      never correctness.
    - 4 bands of 2 explode to 4 rows/doc; the only real shuffle is the
      self-join on band key;
    - candidates verified with exact Jaccard on the 112-bit shingle
      identity (mh0..mh3 — the '0:'-salted md5's slices, which double
      as minhash inputs) — set-identical to string intersection short
      of a 2^-112 collision, the same trust already placed in md5 by
      the exact-dedup fingerprints — threshold 0.2.

    100 TB shape: linear scan + projection for signatures (2 md5
    evaluations per distinct (doc, shingle) row, all map-side),
    shuffle volume = 4 band keys/doc (bytes, not documents), pair
    work bounded by band collisions. The quadratic truth
    (dedup_ngram_jaccard) exists only as the test-scale ground truth.
    """
    pairs = _lsh_verified_pairs(spark, sf_dir)
    jaccard = F.round(
        F.col("n_inter") / (F.col("sza") + F.col("szb") - F.col("n_inter")), 6
    )
    return (
        pairs.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("ida", "idb", "jaccard")
        .orderBy("ida", "idb")
    )


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared MinHash-LSH candidate + exact-verify core: banded
    candidate generation followed by the exact shingle-set overlap
    counts. Returns ``(ida, idb, sza, szb, n_inter)`` — enough to
    derive ANY set-overlap measure (Jaccard for
    :func:`dedup_minhash_lsh`, Broder containment for
    :func:`dedup_minhash_containment`) without re-running the hash /
    band / verify stages."""
    # signature over exploded shingle rows: md5 runs ONCE per
    # (doc, shingle) row — an array-projection formulation is tempting
    # but CollapseProject inlines the hash array into every array_min
    # consumer, multiplying the md5 work 8x (measured 5x slower); the
    # Aggregate boundary below pins the hash to a single evaluation.
    # The shingle subtree (split + posexplode + window + distinct) is
    # referenced FOUR times downstream (signatures, sizes, both verify
    # sides) — checkpoint it so it runs once. Checkpointing the NARROW
    # hashed projection (doc_id, mh0..mh7: 72 bytes/row) instead of the
    # string shingles materializes ~10x less (A/B at sf0.1:
    # 2.9 s vs 3.3 s vs 9.8+ s with no checkpoint at all), which also
    # lets the verify join run on longs instead of strings
    sh_rows = _shingle_table(spark, sf_dir)

    def _slices(col, salt: int):
        """Four independent 28-bit longs as disjoint 7-hex slices of
        one salted md5."""
        h = F.md5(F.concat(F.lit(f"{salt}:"), col))
        return [
            F.conv(F.substring(h, 1 + 7 * k, 7), 16, 10).cast("long")
            for k in range(4)
        ]

    # mh0..mh3 (the '0:'-salted md5's slices) double as the 112-bit
    # shingle identity for the verify stage — no extra identity md5
    mh_cols = [
        c.alias(f"mh{4 * s + k}")
        for s in range(MINHASH_SEEDS // 4)
        for k, c in enumerate(_slices(F.col("sh"), s))
    ]
    hashed = sh_rows.select("doc_id", *mh_cols).localCheckpoint(eager=True)
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(F.col(f"mh{i}")).alias(f"m{i}") for i in range(MINHASH_SEEDS)]
    )
    n_bands = MINHASH_SEEDS // BAND_ROWS
    # bands stay SLIM (ids + keys only): the self-join shuffles a few
    # dozen bytes per doc, never the shingle arrays; both sides are
    # the identical subplan so the exchange is computed once (ReuseExchange)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"m{b * BAND_ROWS + r}").cast("string")
                                for r in range(BAND_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band_idx", "bk.key")
    a = bands.select(F.col("doc_id").alias("ida"), "band_idx", "key")
    b = bands.select(F.col("doc_id").alias("idb"), "band_idx", "key")
    cand = (
        a.join(b, ["band_idx", "key"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
    # the candidate set is small but its lineage (hash + self-join) is
    # expensive and referenced twice below — truncate it so the
    # subtree runs exactly once (at 100 TB this materialization is the
    # natural stage boundary of any LSH pipeline)
    cand = cand.localCheckpoint(eager=True)
    # verify candidates with exact Jaccard: hashed shingle rows joined
    # candidate-side first (broadcast — candidates are the small side),
    # intersection counted on (idb, mh0..mh3) equality — long keys off
    # the checkpointed narrow table, never the shingle strings
    sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(F.broadcast(sizes.withColumnRenamed("doc_id", "ida")), "ida")
        .withColumnRenamed("sz", "sza")
        .join(F.broadcast(sizes.withColumnRenamed("doc_id", "idb")), "idb")
        .withColumnRenamed("sz", "szb")
    )
    sha = hashed.select(F.col("doc_id").alias("ida"), "mh0", "mh1", "mh2", "mh3")
    # the b-side only needs shingles of candidate docs — semi-join on
    # the (broadcast, tiny) candidate id set BEFORE the wide
    # (idb, mh0..mh3) equi-join so non-candidate docs never enter that
    # shuffle
    shb = hashed.select(
        F.col("doc_id").alias("idb"), "mh0", "mh1", "mh2", "mh3"
    ).join(
        F.broadcast(cand.select("idb").distinct()), "idb", "semi"
    )
    n_inter = (
        sha.join(F.broadcast(cand), "ida")
        .join(shb, ["idb", "mh0", "mh1", "mh2", "mh3"])
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("n_inter"))
    )
    return inter.join(n_inter, ["ida", "idb"])


#: minimum Broder containment (ppm) for the containment report
CONTAINMENT_PPM = 500_000


def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplication via Broder CONTAINMENT over the
    SAME LSH candidate/verify core as :func:`dedup_minhash_lsh`:
    ``C(A→B) = |A∩B| / |A|`` tells you WHICH document subsumes which —
    the quotation / boilerplate-envelope / superset-page signal that
    symmetric Jaccard blurs (a 60-token doc fully inside a 600-token
    doc has J ≈ 0.1 but C ≈ 1.0). Output: both directions in integer
    ppm, the dominant direction as a label, and the symmetric Jaccard
    for context; pairs kept when either direction ≥ 50% (CONTAINMENT_PPM).

    Candidate generation is the Jaccard-tuned banding, so a
    high-containment pair whose Jaccard is far below the banding
    S-curve can be missed at candidate time — by design; the
    token-span path (:func:`dedup_substring_spans`) is the recall
    backstop for extreme-asymmetry cases. All reported numbers are
    exact integer arithmetic over the verified shingle-hash sets, so
    the row hashes bit-for-bit cross-engine.

    100 TB: identical economics to dedup_minhash_lsh — the extra two
    ppm divisions are free; no additional scan, shuffle, or join.
    """
    pairs = _lsh_verified_pairs(spark, sf_dir)
    jaccard = F.round(
        F.col("n_inter") / (F.col("sza") + F.col("szb") - F.col("n_inter")), 6
    )
    return (
        pairs.withColumn(
            "cont_a_ppm", F.expr("(1000000 * n_inter) DIV sza")
        )
        .withColumn("cont_b_ppm", F.expr("(1000000 * n_inter) DIV szb"))
        .filter(
            (F.col("cont_a_ppm") >= CONTAINMENT_PPM)
            | (F.col("cont_b_ppm") >= CONTAINMENT_PPM)
        )
        .select(
            "ida",
            "idb",
            "cont_a_ppm",
            "cont_b_ppm",
            F.when(F.col("cont_a_ppm") >= F.col("cont_b_ppm"), F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
            jaccard.alias("jaccard"),
        )
        .orderBy("ida", "idb")
    )


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"list_min(list_transform(hs, p -> p.m{i})) AS m{i}"
        for i in range(MINHASH_SEEDS)
    )
    # the independent-family twin: four disjoint 7-hex (28-bit) slices
    # of each of 2 salted md5s, exactly mirroring the Spark side's
    # _slices()
    half_fields = ", ".join(
        f"m{4 * s + k}: CAST(concat('0x', substr(md5('{s}:' || s2), "
        f"{1 + 7 * k}, 7)) AS BIGINT)"
        for s in range(MINHASH_SEEDS // 4)
        for k in range(4)
    )
    n_bands = MINHASH_SEEDS // BAND_ROWS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band_idx, "
        + " || '_' || ".join(
            f"CAST(m{b * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        + " AS key FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
shingled AS (
  SELECT doc_id, list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]
  ) AS sh
  FROM docs
),
hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, s2 -> {{{half_fields}}}) AS hs
  FROM shingled
  WHERE len(sh) > 0
),
sig AS (SELECT doc_id, sh, {mins} FROM hashed),
bands AS ({band_rows}),
cand AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb,
         any_value(a.sh) AS sha, any_value(b.sh) AS shb
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ida, idb,
       ROUND(len(list_intersect(sha, shb)) * 1.0
             / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 6) AS jaccard
FROM cand
WHERE len(list_intersect(sha, shb)) * 1.0
      / (len(sha) + len(shb) - len(list_intersect(sha, shb))) >= {JACCARD_THRESHOLD}
ORDER BY ida, idb
"""


def _containment_oracle() -> str:
    """Containment twin: the same CTE prefix as _minhash_oracle up to
    ``cand``, then Broder containment in integer ppm both ways."""
    prefix = _minhash_oracle()
    prefix = prefix[: prefix.index("SELECT ida, idb,")]
    return f"""{prefix}
SELECT ida, idb,
       CAST((1000000 * len(list_intersect(sha, shb))) // len(sha) AS BIGINT)
         AS cont_a_ppm,
       CAST((1000000 * len(list_intersect(sha, shb))) // len(shb) AS BIGINT)
         AS cont_b_ppm,
       CASE WHEN (1000000 * len(list_intersect(sha, shb))) // len(sha)
                 >= (1000000 * len(list_intersect(sha, shb))) // len(shb)
            THEN 'a_in_b' ELSE 'b_in_a' END AS direction,
       ROUND(len(list_intersect(sha, shb)) * 1.0
             / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 6) AS jaccard
FROM cand
WHERE (1000000 * len(list_intersect(sha, shb))) // len(sha) >= {CONTAINMENT_PPM}
   OR (1000000 * len(list_intersect(sha, shb))) // len(shb) >= {CONTAINMENT_PPM}
ORDER BY ida, idb
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force all-pairs 3-gram Jaccard ≥ threshold — the exact
    ground truth for the LSH approximation (quadratic; test-scale
    only, the production path is dedup_minhash_lsh)."""
    sh = _shingle_table(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sha = sh.select(F.col("doc_id").alias("ida"), "sh")
    shb = sh.select(F.col("doc_id").alias("idb"), "sh")
    inter = (
        sha.join(shb, "sh")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("ida"), F.col("sz").alias("sza")), "ida")
        .join(sizes.select(F.col("doc_id").alias("idb"), F.col("sz").alias("szb")), "idb")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("sza") + F.col("szb") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("ida", "idb", "jaccard")
        .orderBy("ida", "idb")
    )


_NGRAM_JACCARD_ORACLE = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.ida, i.idb,
       ROUND(n_inter * 1.0 / (za.sz + zb.sz - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.ida
JOIN sizes zb ON zb.doc_id = i.idb
WHERE n_inter * 1.0 / (za.sz + zb.sz - n_inter) >= {JACCARD_THRESHOLD}
ORDER BY ida, idb
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature = bitwise majority over
    token hashes (first 8 md5 hex chars → uint32); pairs with Hamming
    distance ≤ 3.

    Pairing is banded, not all-pairs: hamming ≤ 3 over four 8-bit
    blocks leaves at least one block identical (pigeonhole), so an
    equi-join on (block_idx, block_value) finds every qualifying pair
    losslessly. Block width matters: 8-bit blocks give 256-way key
    spread (16-bit signatures with 4-bit blocks measured SLOWER than
    the cross join they replaced — too few distinct keys).
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    bit_sums = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    sig = sum(
        (F.when(F.col(f"s{b}") * 2 > F.col("n_toks"), F.lit(1 << b)).otherwise(0))
        for b in range(SIMHASH_BITS)
    )
    sigs = bit_sums.select("doc_id", sig.alias("simhash"))
    # pigeonhole banding: hamming ≤ 3 over 16 bits ⇒ at least one of
    # the four 4-bit blocks is identical, so an equi-join on
    # (block_idx, block_value) finds EVERY qualifying pair — lossless,
    # and it replaces the O(N²) cross join with a shuffle keyed by
    # 6-bit values (the production path at corpus scale)
    n_blocks = SIMHASH_BITS // SIMHASH_BLOCK_BITS

    def _blk(col, i):
        # the ONE block-extraction definition — shared by the banding
        # explode and the credit-assignment filter below so the two
        # can never diverge
        return F.shiftright(col, SIMHASH_BLOCK_BITS * i).bitwiseAND(
            F.lit((1 << SIMHASH_BLOCK_BITS) - 1)
        )

    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(blk).alias("block_idx"),
                        _blk(F.col("simhash"), blk).alias("block_val"),
                    )
                    for blk in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.block_idx", "b.block_val")
    a = blocks.select(
        F.col("doc_id").alias("ida"), F.col("simhash").alias("ha"), "block_idx", "block_val"
    )
    b = blocks.select(
        F.col("doc_id").alias("idb"), F.col("simhash").alias("hb"), "block_idx", "block_val"
    )
    # credit assignment instead of DISTINCT: a qualifying pair joins
    # once per IDENTICAL block (signature-equal pairs join n_blocks
    # times); keep it only in the FIRST matching block's bucket — a
    # pure map-side expression over (ha, hb), so the 1.5M-pair dedup
    # shuffle disappears entirely (same trick as
    # events_interval_overlap_join). _blk is the same definition the
    # banding explode used, so the two cannot diverge.
    first_match = F.coalesce(
        *[
            F.when(_blk(F.col("ha"), i) == _blk(F.col("hb"), i), F.lit(i))
            for i in range(n_blocks)
        ]
    )
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("ida") < F.col("idb"))
        # hamming filter first: bit_count is a cheap map-side
        # expression — discard far pairs before anything else
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= 3)
        .filter(F.col("block_idx") == first_match)
        .select("ida", "idb", "ha", "hb", "hamming")
        # no trailing orderBy: on the shared-vocab fixture corpus this
        # query is output-bound (~1.5M qualifying pairs at sf0.1) and a
        # global range-partition sort of the result would be its single
        # most expensive stage; the correctness harness canonicalizes
        # row order itself (oracle is unordered to match)
    )


def _simhash_oracle() -> str:
    bit_sums = ", ".join(
        f"SUM((h >> {b}) & 1) AS s{b}" for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} * 2 > n_toks THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
    FROM documents
  )
),
bit_sums AS (
  SELECT doc_id, COUNT(*) AS n_toks, {bit_sums}
  FROM tok GROUP BY doc_id
),
sigs AS (SELECT doc_id, {sig} AS simhash FROM bit_sums)
SELECT a.doc_id AS ida, b.doc_id AS idb,
       a.simhash AS ha, b.simhash AS hb,
       bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3
"""


#: cosine at or above which two embeddings are near-duplicates
EMBEDDING_DUP_COS = 0.4


def _embedding_dups(emb: DataFrame, key: str | None = None) -> DataFrame:
    """The near-dup core of the three embedding entries: every pair
    ``ida < idb`` of the normed frame ``emb`` (vec_id, v, vnorm[, key])
    whose 6-dp cosine is at least EMBEDDING_DUP_COS, paired within
    ``key`` (the LSH bucket or the k-means cell) or, with no key,
    across the whole corpus. Norms come once per vector from
    ``_with_norm``, so each pair pays a single interpreted dot.
    Returns (ida, idb, cosine)."""
    keys = [key] if key else []
    a, b = (
        emb.select(
            *keys,
            F.col("vec_id").alias(f"id{s}"),
            F.col("v").alias(f"v{s}"),
            F.col("vnorm").alias(f"n{s}"),
        )
        for s in "ab"
    )
    return (
        (a.join(b, key) if key else a.crossJoin(b))
        .filter(F.col("ida") < F.col("idb"))
        .withColumn("cosine", F.round(_pair_cosine("va", "na", "vb", "nb"), 6))
        .filter(F.col("cosine") >= EMBEDDING_DUP_COS)
        .select("ida", "idb", "cosine")
    )


def _embedding_dups_sql(src: str, on: str = "") -> str:
    """The SQL twin of ``_embedding_dups``: pairs of CTE ``src`` (vec_id,
    v, vnorm) under the extra join condition ``on``."""
    return f"""SELECT ida, idb, cosine FROM (
    SELECT a.vec_id AS ida, b.vec_id AS idb,
           ROUND({_pair_cos_sql("b", "a.v", "a.vnorm")}, 6) AS cosine
    FROM {src} a JOIN {src} b ON {on}a.vec_id < b.vec_id
  ) WHERE cosine >= {EMBEDDING_DUP_COS}"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, all-pairs: cosine ≥ EMBEDDING_DUP_COS
    (double-precision sequential dot product — identical in IEEE
    engines).

    GROUND TRUTH, TEST SCALE ONLY (like dedup_ngram_jaccard): the
    crossJoin is O(N²) and exists to validate the bucketed production
    twin, ``dedup_embedding_lsh`` below — use that at corpus scale.
    """
    emb = _with_norm(_vecs(spark, sf_dir))
    return _embedding_dups(emb).orderBy("ida", "idb")


DEDUP_EMBEDDING_COSINE_ORACLE = f"""
WITH {_E_CTE}
{_embedding_dups_sql("e")}
ORDER BY ida, idb
"""


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed production twin of ``dedup_embedding_cosine``:
    candidate pairs are restricted to the same sign-bit LSH bucket
    (the random-hyperplane family similarity_lsh_bucketed uses), so
    the bucket key — not a cross join — is the shuffle key.

    100 TB shape: O(sum of bucket²) instead of O(N²); bucket bits
    SCALE WITH N via ``similarity.lsh_dims_for`` (one metadata-cheap
    parquet count() sizes the key so the expected bucket stays
    ~10k vectors — at fixture N that yields the default 4-bit key the
    committed oracle mirrors), and multi-probe neighboring buckets
    buys recall back. Single-probe here; the oracle replicates the
    exact bucketed semantics, so the result is hash-checkable even
    though recall < 1 vs the all-pairs truth.
    """
    emb = _vecs(spark, sf_dir)
    # parquet count() is footer-metadata work, not a scan — the price
    # of a corpus-size-adaptive bucket key
    dims = lsh_dims_for(emb.count())
    emb = _with_norm(emb).withColumn("bucket", _bucket_expr(F.col("v"), dims))
    return _embedding_dups(emb, "bucket").orderBy("ida", "idb")


def _embedding_lsh_oracle() -> str:
    return f"""
WITH {_E_CTE},
b AS (SELECT vec_id, v, vnorm, {_lsh_bits_sql()} AS bucket FROM e)
{_embedding_dups_sql("b", "a.bucket = b.bucket AND ")}
ORDER BY ida, idb
"""


# --- duplicate-cluster resolution ---------------------------------------

#: safety bound on label-propagation rounds. Min-label propagation
#: advances ONE hop per round, so convergence needs up to
#: eccentricity(min-id node) rounds; near-dup components are
#: cliques-ish (tiny diameter), so 50 is generous. Exceeding the cap
#: RAISES instead of returning partially-propagated (wrong) labels.
CC_MAX_ROUNDS = 50


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    verified MinHash near-dup pairs, canonical doc = min doc_id per
    component. Pair lists (dedup_minhash_lsh) answer "which docs are
    similar"; a training-data pipeline needs "which ONE do I keep" —
    that requires transitively closing the pairs (A~B, B~C => one
    cluster {A,B,C}, keep A, drop B and C).

    Algorithm: min-label propagation — comp(v) starts at v, each round
    takes the min comp over v's neighbors, loop stops at fixpoint
    (checked with a count per round; each round is ONE shuffle on id).
    The edge set is localCheckpoint-pinned so the expensive LSH
    lineage runs exactly once, and each round's frame is checkpointed
    to keep lineage flat.

    100 TB shape: this is the standard alternating-propagation CC on
    DataFrames (same plan family GraphFrames uses); one hop of label
    movement per round, so rounds = O(component eccentricity) — tiny
    for cliques-ish near-dup graphs, capped loud (CC_MAX_ROUNDS);
    shuffle volume = 2 longs per edge per round — document text never
    enters the loop.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("ida", "idb")
    edges = (
        pairs.union(pairs.select(F.col("idb"), F.col("ida")))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    comp = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CC_MAX_ROUNDS):
        msgs = edges.join(comp, F.col("src") == F.col("id")).select(
            F.col("dst").alias("id"), F.col("comp")
        )
        new = (
            msgs.union(comp)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(comp.alias("o"), "id")
            .filter(F.col("n.comp") < F.col("o.comp"))
            .count()
        )
        comp = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters: label propagation did not converge within "
            f"{CC_MAX_ROUNDS} rounds — component diameter exceeds the cap; "
            f"raise CC_MAX_ROUNDS rather than returning split clusters"
        )
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            F.when(F.col("id") == F.col("comp"), "keep")
            .otherwise("drop")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def _clusters_oracle() -> str:
    """Transitive closure via recursive CTE (test-scale: the closure
    is quadratic in cluster size, fine for planted near-dup clusters),
    then min-reachable-id as the cluster label."""
    pair_query = _minhash_oracle().replace("ORDER BY ida, idb", "")
    return f"""
WITH RECURSIVE pairs AS ({pair_query}),
edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION
  SELECT idb, ida FROM pairs
),
reach(id, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
comp AS (
  SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id
),
sized AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT c.id AS doc_id, c.cluster_id, s.cluster_size,
       CASE WHEN c.id = c.cluster_id THEN 'keep' ELSE 'drop' END AS verdict
FROM comp c JOIN sized s USING (cluster_id)
ORDER BY doc_id
"""


def dedup_shrink_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup buys, as one row of corpus-level numbers: total
    docs, docs caught in near-dup families, family count, docs the
    keep-one-per-family policy removes, survivors, the largest family
    (the "one viral page, ten thousand mirrors" indicator), and the
    integer-ppm shrink — the before/after a pipeline owner quotes
    when justifying the dedup stage's cost.

    Plan: ONE left equi-join of the doc-id spine against the cluster
    table, then ONE global aggregate (count / conditional sums /
    countDistinct / max) — no 1-row×1-row scalar joins, so the plan
    audit's no-BNLJ rule holds. All integers; hashes exactly.

    100 TB: the spine join is a shuffle on doc_id (or free if cluster
    output is already bucketed by doc_id); the aggregate is
    partial-agg map-side to a single row.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size", "verdict"
    )
    j = docs.join(clusters, "doc_id", "left")
    return (
        j.agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0)
            ).alias("n_dup_docs"),
            F.countDistinct("cluster_id").alias("n_families"),
            F.sum(F.when(F.col("verdict") == "drop", 1).otherwise(0)).alias(
                "n_removed"
            ),
            F.max(F.coalesce(F.col("cluster_size"), F.lit(1))).alias(
                "largest_family"
            ),
        )
        .select(
            "n_docs",
            "n_dup_docs",
            "n_families",
            "n_removed",
            (F.col("n_docs") - F.col("n_removed")).alias("n_kept"),
            "largest_family",
            F.expr("(1000000 * n_removed) DIV n_docs").alias("shrink_ppm"),
        )
    )


def _shrink_oracle() -> str:
    base = _clusters_oracle()
    prefix = base[: base.index("SELECT c.id AS doc_id")].rstrip()
    return f"""{prefix},
full_ AS (
  SELECT d.doc_id, c.cluster_id, s.cluster_size,
         CASE WHEN c.id IS NULL THEN NULL
              WHEN c.id = c.cluster_id THEN 'keep' ELSE 'drop' END AS verdict
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.id
  LEFT JOIN sized s ON c.cluster_id = s.cluster_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_families,
       CAST(SUM(CASE WHEN verdict = 'drop' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(COUNT(*) - SUM(CASE WHEN verdict = 'drop' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(MAX(COALESCE(cluster_size, 1)) AS BIGINT) AS largest_family,
       CAST((1000000 * SUM(CASE WHEN verdict = 'drop' THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS shrink_ppm
FROM full_
"""


def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation as a first-class operator: join the
    MinHash-LSH pair set against the exact n-gram-Jaccard ground
    truth and report recall/precision — the number a pipeline owner
    watches when tuning bands/rows. (On this corpus LSH verification
    filters by TRUE Jaccard, so precision is 1 by construction; recall
    is the banding loss.)

    Test-scale only insofar as the ground-truth side is the quadratic
    dedup_ngram_jaccard; at production scale the same report runs
    against a sampled truth set.
    """
    lsh = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("ida", "idb")
        .withColumn("in_lsh", F.lit(1))
    )
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("ida", "idb")
        .withColumn("in_truth", F.lit(1))
    )
    j = lsh.join(truth, ["ida", "idb"], "full_outer")
    return j.agg(
        F.sum(F.coalesce(F.col("in_truth"), F.lit(0))).alias("n_truth"),
        F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))).alias("n_lsh"),
        F.sum(
            F.when(F.col("in_lsh").isNotNull() & F.col("in_truth").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
    ).select(
        "n_truth",
        "n_lsh",
        "n_both",
        F.round(F.col("n_both") / F.col("n_truth"), 6).alias("recall"),
        F.round(F.col("n_both") / F.col("n_lsh"), 6).alias("precision"),
    )


def _lsh_recall_oracle() -> str:
    lsh = _minhash_oracle().replace("ORDER BY ida, idb", "")
    truth = _NGRAM_JACCARD_ORACLE.replace("ORDER BY ida, idb", "")
    return f"""
WITH lsh AS ({lsh}),
truth AS ({truth}),
j AS (
  SELECT COALESCE(l.ida, t.ida) AS ida, COALESCE(l.idb, t.idb) AS idb,
         (l.ida IS NOT NULL) AS in_lsh, (t.ida IS NOT NULL) AS in_truth
  FROM lsh l FULL OUTER JOIN truth t ON l.ida = t.ida AND l.idb = t.idb
),
c AS (
  SELECT CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
         CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         CAST(SUM(CASE WHEN in_lsh AND in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM j
)
SELECT n_truth, n_lsh, n_both,
       ROUND(n_both * 1.0 / n_truth, 6) AS recall,
       ROUND(n_both * 1.0 / n_lsh, 6) AS precision
FROM c
"""


#: tokens per segment for paragraph-level dedup (the fixture text has
#: no newlines, so fixed token windows stand in for paragraphs)
SEGMENT_TOKENS = 20


def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph/segment-level exact dedup (the CCNet/RefinedWeb move:
    drop repeated boilerplate *within* documents that survive doc-level
    dedup). Each doc splits into 20-token segments; a segment instance
    is a duplicate iff the same segment text occurred earlier in
    corpus order (doc_id, seg_id). Per-doc report: segment counts +
    duplicate ratio — the pipeline drops or rewrites docs above a
    threshold.

    100 TB shape: posexplode (map-side) → one shuffle keyed by
    (doc, seg) to build segment text → one shuffle keyed by the
    16-byte segment digest for first-occurrence ranking (text itself
    is dropped before that shuffle — only (digest, doc_id, seg_id)
    rows move) → per-doc agg. No joins, no quadratic step anywhere.
    """
    return paragraph_dedup_report(load(spark, sf_dir, "documents"))


def paragraph_dedup_report(docs: DataFrame) -> DataFrame:
    """Core of ``dedup_paragraph_exact`` over any (doc_id, text)
    frame — separated so edge-case corpora can be tested directly."""
    tok = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "t")
    ).withColumn("seg_id", (F.col("pos") / SEGMENT_TOKENS).cast("int"))
    # the digest is unhex'd to its 16-byte binary before the h-window
    # shuffle (bijective with the hex string; it never reaches the
    # output) — same shuffle-row diet as substring_span_report
    segs = tok.groupBy("doc_id", "seg_id").agg(
        F.unhex(
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "t"))),
                        lambda s: s.getField("t"),
                    ),
                    " ",
                )
            )
        ).alias("h")
    )
    w = W.partitionBy("h").orderBy("doc_id", "seg_id")
    marked = segs.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("is_dup").alias("n_dup_segments"),
            F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


DEDUP_PARAGRAPH_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, u.t, u.pos - 1 AS pos
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
  ), LATERAL (SELECT unnest(toks) AS t, generate_subscripts(toks, 1) AS pos) u
),
segs AS (
  SELECT doc_id,
         CAST(floor(pos / {SEGMENT_TOKENS}) AS INT) AS seg_id,
         md5(string_agg(t, ' ' ORDER BY pos)) AS h
  FROM tok GROUP BY doc_id, CAST(floor(pos / {SEGMENT_TOKENS}) AS INT)
),
marked AS (
  SELECT doc_id,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, seg_id) > 1
              THEN 1 ELSE 0 END AS is_dup
  FROM segs
)
SELECT doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_segments,
       ROUND(SUM(is_dup) * 1.0 / COUNT(*), 6) AS dup_ratio
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space into k-means cells, then WITHIN each cell drop
    every vector that has a high-cosine (≥ EMBEDDING_DUP_COS) neighbor
    with a lower vec_id — one deterministic representative survives
    per duplicate neighborhood. The data-adaptive complement of
    ``dedup_embedding_lsh`` (random-hyperplane buckets): cells follow
    the corpus's own density, which is the paper's point.

    Reuses the IVF/k-means cell assignment (``similarity._assign_cells``
    — one numpy matmul per Arrow batch against broadcast centroids,
    deterministic argmax tie-breaks, the construction whose SQL twin
    is already oracle-proven). Candidate pairs are restricted to the
    cell — the cell id is the ONLY shuffle key; O(Σ cell²), never N².
    Output: every vector with its cell and a keep/drop verdict.
    """
    with_cells, _ = _assign_cells(
        spark, _vecs(spark, sf_dir), probes=1, cache_key=sf_dir
    )
    corpus = _in_cell(with_cells)
    dropped = (
        _embedding_dups(corpus, "cell").select(F.col("idb").alias("vec_id")).distinct()
    )
    return (
        corpus.join(dropped.withColumn("dropped", F.lit(1)), "vec_id", "left_outer")
        .select(
            "vec_id",
            "cell",
            F.col("dropped").isNull().alias("keep"),
        )
        .orderBy("vec_id")
    )


def _semantic_cells_oracle() -> str:
    # the cell prelude is the SQL twin of similarity._assign_cells,
    # shared with every single-cell _assign_cells consumer's oracle
    return f"""
{_cell_assign_prelude_sql()},
corpus AS (SELECT e.vec_id, e.v, e.vnorm, a.cell FROM e JOIN assign a USING (vec_id)),
dropped AS (
  SELECT DISTINCT idb AS vec_id FROM (
  {_embedding_dups_sql("corpus", "a.cell = b.cell AND ")}
  )
)
SELECT c.vec_id, c.cell, d.vec_id IS NULL AS keep
FROM corpus c LEFT JOIN dropped d ON c.vec_id = d.vec_id
ORDER BY c.vec_id
"""


#: substring-span window width (tokens). 10 is small enough to catch
#: real boilerplate overlap in the synthetic corpus and large enough
#: that random token runs essentially never collide.
SPAN_TOKENS = 10


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring (token-span) duplication report — the
    "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., 2022) exact-substring move, bounded to fixed-width
    spans so it runs as pure relational algebra instead of a suffix
    array: every SPAN_TOKENS-token window of every document is
    fingerprinted; a span instance is *cross-doc duplicated* iff the
    identical token run also appears in at least one OTHER document.
    Per-doc output (span counts + duplicated-span ratio) is the signal
    a pipeline uses to strip or rewrite cloned boilerplate. Within-doc
    repetition is deliberately excluded — that is
    ``pipeline_repetition_score`` / ``dedup_paragraph_exact`` territory.

    100 TB shape: posexplode + window-lead builds spans in ONE pass
    (the codegen-safe n-gram formulation, functions/text.py:31 — never
    the O(tokens²) transform-over-sequence); span text collapses to a
    16-byte md5 BEFORE any shuffle, so the h-window moves only
    (digest, doc_id) rows; cross-doc detection is min≠max doc_id over
    the digest window — no self-join, no collect_list hot key; the
    final per-doc agg is the second and last shuffle.
    """
    return substring_span_report(load(spark, sf_dir, "documents"))


def substring_span_report(docs: DataFrame) -> DataFrame:
    """Core of ``dedup_substring_spans`` over any (doc_id, text) frame,
    windows of SPAN_TOKENS tokens.

    The h-window exchange is the operator's dominant shuffle (one row
    per token instance), so its row is kept minimal: no position
    column (the window and the final per-doc agg never read it), and
    the fingerprint travels as ``unhex(md5)`` — the 16-byte binary
    value, not the 32-char hex string (bijective, so the window
    partitioning and is_dup are bit-identical; measured at sf0.1 this
    halves the shuffle row and never leaves the query, so oracle
    parity is untouched)."""
    from ..functions.text import ngram_rows

    spans = ngram_rows(docs, SPAN_TOKENS, out_col="_span").select(
        "doc_id", F.unhex(F.md5(F.col("_span"))).alias("h")
    )
    wh = W.partitionBy("h")
    flagged = spans.withColumn(
        "is_dup",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).cast("int"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("is_dup").alias("n_dup_spans"),
            F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


def _substring_spans_oracle() -> str:
    leads = ", ".join(f"lead(t, {k}) OVER w" for k in range(1, SPAN_TOKENS))
    return rf"""
WITH tok AS (
  SELECT doc_id, u.t, u.pos FROM (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
  ), LATERAL (SELECT unnest(toks) AS t, generate_subscripts(toks, 1) AS pos) u
),
spans AS (
  SELECT doc_id,
         md5(concat_ws(' ', t, {leads})) AS h,
         lead(t, {SPAN_TOKENS - 1}) OVER w AS _last
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
flagged AS (
  SELECT doc_id,
         CASE WHEN MIN(doc_id) OVER (PARTITION BY h)
              <> MAX(doc_id) OVER (PARTITION BY h) THEN 1 ELSE 0 END AS is_dup
  FROM spans WHERE _last IS NOT NULL
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_spans,
       ROUND(SUM(is_dup) * 1.0 / COUNT(*), 6) AS dup_ratio
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact_subset": dedup_exact_subset,
    "dedup_exact_text": dedup_exact_text,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_containment": dedup_minhash_containment,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_clusters": dedup_clusters,
    "dedup_paragraph_exact": dedup_paragraph_exact,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_semantic_cells": dedup_semantic_cells,
    "dedup_lsh_recall_report": dedup_lsh_recall_report,
    "dedup_shrink_report": dedup_shrink_report,
}

ORACLES = {
    "dedup_exact_subset": DEDUP_EXACT_SUBSET_ORACLE,
    "dedup_exact_text": DEDUP_EXACT_TEXT_ORACLE,
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_minhash_containment": _containment_oracle(),
    "dedup_ngram_jaccard": _NGRAM_JACCARD_ORACLE,
    "dedup_simhash": _simhash_oracle(),
    "dedup_embedding_cosine": DEDUP_EMBEDDING_COSINE_ORACLE,
    "dedup_embedding_lsh": _embedding_lsh_oracle(),
    "dedup_clusters": _clusters_oracle(),
    "dedup_paragraph_exact": DEDUP_PARAGRAPH_ORACLE,
    "dedup_substring_spans": _substring_spans_oracle(),
    "dedup_semantic_cells": _semantic_cells_oracle(),
    "dedup_lsh_recall_report": _lsh_recall_oracle(),
    "dedup_shrink_report": _shrink_oracle(),
}
