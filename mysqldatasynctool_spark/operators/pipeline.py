"""Training-data pipeline operators (north star — beyond SURVEY.md
§2B's named families): the remaining ops a large-scale LLM data
pipeline runs daily — benchmark decontamination, sequence packing,
deterministic stratified sampling, and repetition filtering.

All oracle-backed: sampling/sharding decisions hash on md5 (the only
engine-portable hash — see operators/compare.py), ratios divide
exact integers as doubles, and integer SUM oracles are CAST to BIGINT
(DuckDB returns HUGEINT otherwise, which the driver's pandas
conversion turns into float64).

Scale notes per operator in the docstrings; none of these shuffles
document text except packing's per-shard window (and that carries
only (doc_id, n_tokens) — text never leaves the scan stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokens_col
from ..sources.fixtures import load

#: every 97th doc plays the held-out benchmark set in decontamination
BENCH_MOD = 97
#: token budget per packed training sequence
SEQ_BUDGET = 2048
#: shard count for the packing windows (production: thousands — one
#: shard per output file/writer; 8 keeps fixture plans readable)
PACK_SHARDS = 8
#: deterministic sample: keep docs whose 60-bit md5 lands in 3/10 bins
SAMPLE_BINS, SAMPLE_KEEP = 10, 3
#: real pipelines use 8-13-gram overlap; the synthetic fixture corpus
#: shares a small vocabulary, so 4 grams give a non-degenerate yet
#: selective match set at test scale
NGRAM_N = 4


# the engine-portable 60-bit md5 idiom lives in functions/hashing.py
# (shared with the checksum discipline in operators/compare.py)
from ..functions.hashing import duck_md5_low60 as _duck_md5_low60
from ..functions.hashing import duck_md5_mod as _duck_md5_mod
from ..functions.hashing import md5_low60 as _md5_low60
from ..functions.hashing import md5_mod as _md5_mod


def _ngram_table(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """Distinct (doc_id, gram) word n-grams — the shared codegen-safe
    formulation (functions/text.distinct_ngram_rows)."""
    from ..functions.text import distinct_ngram_rows

    return distinct_ngram_rows(docs, n, out_col="gram")


def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training docs sharing any word
    n-gram (NGRAM_N = 4 at fixture scale; 8-13 in production) with the
    held-out benchmark set (docs with doc_id % 97 == 0
    stand in for the eval suite), reporting how many distinct grams
    leak. The standard pre-training hygiene pass (e.g. GPT-3 §C /
    PaLM-style n-gram overlap).

    100 TB shape: benchmark grams are tiny (eval suites are MBs) →
    broadcast to the corpus gram scan; corpus text is never shuffled,
    only (doc_id, gram) pairs that actually match reach the count
    aggregation. Gram width is a constant; recall is exact, not
    probabilistic.
    """
    docs = load(spark, sf_dir, "documents")
    grams = _ngram_table(docs)
    bench = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("gram").alias("bgram"))
        .distinct()
    )
    return (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), F.col("gram") == F.col("bgram"))
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


_GRAM_IDX = ", ".join(f"t[i+{k}]" for k in range(NGRAM_N))
PIPELINE_DECONTAMINATE_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {NGRAM_N - 1}),
                i -> concat_ws(' ', {_GRAM_IDX}))) AS gram
  FROM toks WHERE len(t) >= {NGRAM_N}
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0)
SELECT g.doc_id, CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_shared_grams
FROM grams g JOIN bench b ON g.gram = b.gram
WHERE g.doc_id % {BENCH_MOD} != 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-split): documents are concatenated
    in deterministic order within a shard and split every SEQ_BUDGET
    tokens; each doc is attributed to the sequence its first token
    lands in. Output: per (shard, seq_id) document count + token mass
    — the exact bookkeeping a training-data writer needs.

    100 TB shape: the only shuffle carries (doc_id, n_tokens) — 16
    bytes/doc, never text. The running-sum window is per-shard; shard
    count (here 8, production thousands) bounds the window partition
    size, and the md5 shard key spreads mass evenly regardless of
    doc_id distribution.
    """
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
        _md5_mod(F.col("doc_id"), PACK_SHARDS).alias("shard"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = per_doc.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "seq_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(float(SEQ_BUDGET))).cast("long"),
    )
    return (
        packed.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .orderBy("shard", "seq_id")
    )


PIPELINE_PACK_ORACLE = rf"""
WITH per_doc AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         {_duck_md5_mod('doc_id', PACK_SHARDS)} AS shard
  FROM documents
),
packed AS (
  SELECT shard, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM per_doc
)
SELECT shard, CAST(FLOOR((cum - n_tokens) / {float(SEQ_BUDGET)}) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
FROM packed
GROUP BY 1, 2
ORDER BY shard, seq_id
"""


def pipeline_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling audit: hash-select 3/10 of
    docs (md5 bins — reproducible across runs, engines, and
    re-partitioning, unlike rand()), report kept/total per
    (lang, source) stratum. At 100 TB this is one scan + one tiny
    aggregation; the selection predicate runs map-side and composes
    with any downstream operator as a plain filter.
    """
    docs = load(spark, sf_dir, "documents")
    keep = (_md5_mod(F.col("doc_id"), SAMPLE_BINS) < SAMPLE_KEEP).cast("int")
    return (
        docs.select("lang", "source", keep.alias("keep"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("keep").alias("n_sampled"),
            (F.sum("keep").cast("double") / F.count("*")).alias("sample_rate"),
        )
        .orderBy("lang", "source")
    )


PIPELINE_SAMPLE_ORACLE = f"""
WITH d AS (
  SELECT lang, source,
         CASE WHEN {_duck_md5_mod('doc_id', SAMPLE_BINS)} < {SAMPLE_KEEP}
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_total,
       CAST(SUM(keep) AS BIGINT) AS n_sampled,
       CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS sample_rate
FROM d
GROUP BY lang, source
ORDER BY lang, source
"""


def pipeline_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (Gopher/C4-style): per-doc duplicate-token
    and duplicate-bigram ratios, plus the keep/drop verdict. Bigrams
    come from zip_with over two slices — the arrays are materialized
    once per row (zip_with evaluates its operands once; only
    element_at-style indexed lambdas re-evaluate their source), so the
    whole operator is a single codegen'd scan: no explode, no shuffle
    except the final orderBy.
    """
    docs = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    nd_tok = F.size(F.array_distinct(toks))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    nd_bi = F.size(F.array_distinct(bigrams))
    dup_tok = (n_tok - nd_tok).cast("double") / n_tok
    dup_bi = F.when(
        n_tok >= 2, ((n_tok - 1) - nd_bi).cast("double") / (n_tok - 1)
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(dup_tok, 6).alias("dup_token_ratio"),
        F.round(dup_bi, 6).alias("dup_bigram_ratio"),
        F.when((dup_tok > 0.3) | (dup_bi > 0.2), F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    ).orderBy("doc_id")


PIPELINE_REPETITION_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS t
  FROM documents
),
m AS (
  SELECT doc_id,
         len(t) AS n_tok,
         len(list_distinct(t)) AS nd_tok,
         len(list_distinct(list_transform(generate_series(1, len(t) - 1),
                                          i -> concat(t[i], ' ', t[i+1])))) AS nd_bi
  FROM d
)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tokens,
       ROUND(CAST(n_tok - nd_tok AS DOUBLE) / n_tok, 6) AS dup_token_ratio,
       CASE WHEN n_tok >= 2
            THEN ROUND(CAST((n_tok - 1) - nd_bi AS DOUBLE) / (n_tok - 1), 6)
            ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_ratio,
       CASE WHEN CAST(n_tok - nd_tok AS DOUBLE) / n_tok > 0.3
              OR (n_tok >= 2 AND CAST((n_tok - 1) - nd_bi AS DOUBLE) / (n_tok - 1) > 0.2)
            THEN 'drop' ELSE 'keep' END AS verdict
FROM m
ORDER BY doc_id
"""


#: token budget one "epoch" of the mixture draws (production: the run
#: config's target token count)
MIX_TOKEN_BUDGET = 1_000_000_000


def pipeline_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture weighting: per-source token mass and the
    temperature-scaled sampling weight (T=2, i.e. share^(1/2)
    renormalized — the standard multilingual/domain rebalancing that
    upweights small sources), plus the per-epoch token allocation for
    a fixed budget.

    Engine-bit-exactness: sqrt outputs are quantized to DECIMAL(18,6)
    before the normalizing SUM, so the denominator is an exact decimal
    sum (order-insensitive) and every downstream double is derived
    from identical inputs in both engines — the float-sum-order trap
    the repo's oracle rules exist for.

    100 TB shape: one scan with a map-side token count, an aggregation
    to #sources rows, and a whole-frame window over those few rows.
    The output is the config a sampler consumes; the heavy data never
    shuffles.
    """
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(tokens_col(F.col("text"))).alias("nt"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    w_raw = F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(18,6)")
    whole = W.partitionBy()
    scaled = per.withColumn("w_raw", w_raw).withColumn(
        "denom", F.sum("w_raw").over(whole)
    ).withColumn("tot", F.sum("n_tokens").over(whole))
    weight = F.col("w_raw").cast("double") / F.col("denom").cast("double")
    return scaled.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("tot").cast("double")).alias(
            "token_share"
        ),
        weight.alias("mix_weight"),
        F.floor(weight * F.lit(MIX_TOKEN_BUDGET)).cast("long").alias(
            "tokens_per_epoch"
        ),
    ).orderBy("source")


PIPELINE_MIX_ORACLE = rf"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT *, CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,6)) AS w_raw FROM per
),
t AS (
  SELECT *, SUM(w_raw) OVER () AS denom, SUM(n_tokens) OVER () AS tot FROM w
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share,
       CAST(w_raw AS DOUBLE) / CAST(denom AS DOUBLE) AS mix_weight,
       CAST(FLOOR(CAST(w_raw AS DOUBLE) / CAST(denom AS DOUBLE)
                  * {MIX_TOKEN_BUDGET}) AS BIGINT) AS tokens_per_epoch
FROM t ORDER BY source
"""


#: md5-mod bins for the split; <90 train, <95 val, else test
SPLIT_BINS, SPLIT_TRAIN, SPLIT_VAL = 100, 90, 95
#: output shards for the deterministic global shuffle (production:
#: one shard per output file — thousands; 32 keeps fixture plans small)
SHUFFLE_SHARDS = 32


def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-stable hash:
    bucket = 60-bit md5(doc_id) mod 100 → 90/5/5. Hash-based (not
    random()) so the split is reproducible across runs, engines, and
    re-partitions — the property an LLM data pipeline needs to avoid
    silent train/eval leakage when data is re-ingested.

    100 TB shape: one map-side expression + a 3-group aggregate; no
    shuffle wider than the final 3 rows.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = _md5_mod(F.col("doc_id"), SPLIT_BINS)
    split = (
        F.when(bucket < SPLIT_TRAIN, F.lit("train"))
        .when(bucket < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


PIPELINE_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT CASE WHEN {_duck_md5_mod('doc_id', SPLIT_BINS)} < {SPLIT_TRAIN} THEN 'train'
              WHEN {_duck_md5_mod('doc_id', SPLIT_BINS)} < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY split ORDER BY split
"""


def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order assignment:
    shard = md5(doc_id) mod 32, position = rank of md5 hex within the
    shard. Reproducible (no random()), uniform (md5), and
    shuffle-write-shaped: at 100 TB this is exactly a write bucketed
    by shard with a per-shard local sort — one shuffle keyed by shard,
    per-shard sort bounded by shard size (Spark's ExternalSorter
    spills, never OOMs), no global ordering anywhere.
    """
    docs = load(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    shuffled = docs.select(
        "doc_id",
        _md5_mod(F.col("doc_id"), SHUFFLE_SHARDS).alias("shard"),
        key.alias("sort_key"),
    )
    w = W.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        shuffled.withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
        # no trailing global orderBy: output is one row per document —
        # at corpus scale a global sort here would be the most
        # expensive stage for zero semantic gain (rows already arrive
        # shard-clustered and pos-ordered from the window)
    )


PIPELINE_SHUFFLE_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         {_duck_md5_mod('doc_id', SHUFFLE_SHARDS)} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sort_key, doc_id) AS pos
FROM s
"""


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data prep pipeline as ONE composed plan:
    exact dedup (normalized-text fingerprint, min-doc_id winner) →
    quality filter (the text_quality_score heuristic, keep >= 0.7) →
    deterministic hash split (90/5/5) → per-split counts + token
    totals. This is the flagship composition a user of the engine
    runs daily; every stage is an operator that is also individually
    oracle-checked, and the composition itself hash-matches DuckDB.

    Plan shape at 100 TB: dedup is one shuffle on the 16-byte digest
    (text stays in the scan stage), the quality filter and split are
    map-side expressions, and the final agg is 3 groups — no stage
    shuffles document text.
    """
    from ..functions.text import normalized_text_col, tokens_col as _toks

    docs = load(spark, sf_dir, "documents")
    fp = F.md5(normalized_text_col(F.col("text")))
    w = W.partitionBy("fp").orderBy("doc_id")
    kept = (
        docs.withColumn("fp", fp)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("fp", "rk")
    )
    toks = _toks(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.regexp_count(F.col("text"), F.lit(r"\b(the|a|of|and|is)\b"))
    mean_tok_len = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", "")) / n_tokens
    score = (
        F.when((n_tokens >= 20) & (n_tokens <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((n_stop / n_tokens) > 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
    )
    quality = kept.withColumn("n_tokens", n_tokens).filter(score >= 0.7)
    bucket = _md5_mod(F.col("doc_id"), SPLIT_BINS)
    split = (
        F.when(bucket < SPLIT_TRAIN, F.lit("train"))
        .when(bucket < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        quality.select(split.alias("split"), "n_tokens")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("split")
    )


PIPELINE_END_TO_END_ORACLE = rf"""
WITH deduped AS (
  SELECT doc_id, text
  FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id
           ) AS rk
    FROM documents
  ) WHERE rk = 1
),
scored AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS n_stopwords,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS alpha_chars
  FROM deduped
),
quality AS (
  SELECT doc_id, n_tokens
  FROM scored
  WHERE (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + (CASE WHEN n_stopwords * 1.0 / n_tokens > 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + (CASE WHEN alpha_chars * 1.0 / n_tokens BETWEEN 3 AND 10 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      >= 0.7
),
splits AS (
  SELECT CASE WHEN {_duck_md5_mod('doc_id', SPLIT_BINS)} < {SPLIT_TRAIN} THEN 'train'
              WHEN {_duck_md5_mod('doc_id', SPLIT_BINS)} < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         n_tokens
  FROM quality
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM splits GROUP BY split ORDER BY split
"""


def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: vet an INCOMING batch against a PRIOR
    corpus snapshot — the shape ingestion pipelines run per delivery,
    distinct from whole-corpus dedup (you never re-pair the snapshot
    against itself).

    The corpus splits at the median doc_id (prior = first half,
    incoming = second half — a deterministic stand-in for the
    snapshot boundary). Each incoming doc gets one verdict with
    precedence exact > near_dup > kept:

    - ``dropped_exact``: its normalized-content fingerprint already
      exists in the snapshot (anti-join on md5 — one shuffle on
      16-byte digests);
    - ``dropped_near``: 3-gram Jaccard >= 0.5 against ANY snapshot doc,
      computed via the shingle equi-join (pairs must share a shingle —
      never incoming × prior);
    - ``kept`` otherwise.

    100 TB shape: the snapshot side only ever contributes (digest) and
    (doc_id, shingle) projections — snapshot TEXT is never read past
    the scan, and the shuffles carry digests/shingle hashes, not
    documents. Jaccard compares exact integer ratios, so the 0.5
    threshold is engine-stable.
    """
    docs = load(spark, sf_dir, "documents")
    from ..functions.text import distinct_ngram_rows, normalized_text_col

    fp = F.md5(normalized_text_col(F.col("text"))).alias("fp")
    # r18 (guide §5 caching): the fingerprint projection fed 3
    # consumers (both exact-join sides + the verdict base) and the
    # shingle frame 3 more (sizes, incoming side, prior side) — SEVEN
    # documents scans in the formatted plan, each re-normalizing or
    # re-tokenizing the text. Checkpoint the two narrow derived frames
    # (16-byte digest + id; shingle rows): text is read exactly twice
    # (one fp pass, one tokenize pass, both in checkpoint jobs).
    # Executed sf0.01 A/B on the final plan: scans 5→0 (7 logical, AQE
    # had recovered two), nodes 106→83; one extra kilobyte-scale
    # exchange appears (the checkpoint drops the distinct's
    # partitioning metadata) — +3 KB against five removed text passes.
    fps = docs.select("doc_id", fp).localCheckpoint(eager=True)
    # r19 (guide §5): the split scalar now derives from the
    # checkpointed fps rows (same doc_ids, same value) instead of a
    # separate parquet probe scan — the one remaining action reads
    # kilobyte RDD blocks
    split = fps.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    prior = fps.filter(F.col("doc_id") < split)
    inc = fps.filter(F.col("doc_id") >= split)

    exact_ids = (
        inc.select("doc_id", "fp")
        .join(prior.select("fp"), "fp", "left_semi")
        .select("doc_id")
    )

    sh = distinct_ngram_rows(docs, 3, out_col="sh").localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_inc = sh.filter(F.col("doc_id") >= split).select(
        F.col("doc_id").alias("ida"), "sh"
    )
    sh_prior = sh.filter(F.col("doc_id") < split).select(
        F.col("doc_id").alias("idb"), "sh"
    )
    inter = (
        sh_inc.join(sh_prior, "sh")
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("n_inter"))
    )
    near_ids = (
        inter.join(sizes.select(F.col("doc_id").alias("ida"), F.col("n_sh").alias("na")), "ida")
        .join(sizes.select(F.col("doc_id").alias("idb"), F.col("n_sh").alias("nb")), "idb")
        .filter(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")) >= 0.5
        )
        .select(F.col("ida").alias("doc_id"))
        .distinct()
    )

    verdict = (
        inc.select("doc_id")
        .join(exact_ids.withColumn("is_exact", F.lit(1)), "doc_id", "left")
        .join(near_ids.withColumn("is_near", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact") == 1, "dropped_exact")
            .when(F.col("is_near") == 1, "dropped_near")
            .otherwise("kept")
            .alias("verdict"),
        )
    )
    return verdict.orderBy("doc_id")


PIPELINE_INCREMENTAL_DEDUP_ORACLE = r"""
WITH s AS (
  SELECT (MAX(doc_id) + 1) // 2 AS split FROM documents
), fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), exact_ids AS (
  SELECT i.doc_id
  FROM fp i, s
  WHERE i.doc_id >= s.split
    AND EXISTS (SELECT 1 FROM fp p, s WHERE p.doc_id < s.split AND p.fp = i.fp)
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]
  )) AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh, s
  WHERE a.doc_id >= s.split AND b.doc_id < s.split
  GROUP BY ida, idb
), near_ids AS (
  SELECT DISTINCT ida AS doc_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.ida
  JOIN sizes sb ON sb.doc_id = inter.idb
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
)
SELECT d.doc_id,
       CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_ids) THEN 'dropped_exact'
            WHEN d.doc_id IN (SELECT doc_id FROM near_ids) THEN 'dropped_near'
            ELSE 'kept' END AS verdict
FROM documents d, s
WHERE d.doc_id >= s.split
ORDER BY d.doc_id
"""


#: per-group sample size for pipeline_sample_per_group
SAMPLE_PER_GROUP_K = 20


def pipeline_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample of EXACTLY k docs per source — the
    balanced per-stratum subsample every corpus-triage loop needs
    (inspect k docs from every source), as opposed to
    ``pipeline_sample_stratified``'s proportional rate. Ranking by
    md5(doc_id) is a uniform random order that is reproducible across
    runs, engines and partitionings (rand() is none of those); ties
    are impossible (doc_id unique ⇒ digest unique).

    100 TB: one shuffle on `source`; per-group top-k by hash rank is
    the window formulation here — at extreme group sizes swap in a
    per-partition partial top-k (the TakeOrdered trick per key), same
    semantics. Never a global sort, never rand()-nondeterminism.
    """
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "source", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_PER_GROUP_K)
        .select("source", "rk", "doc_id", "lang", "n_chars")
        .orderBy("source", "rk")
    )


PIPELINE_SAMPLE_PER_GROUP_ORACLE = f"""
SELECT source, rk, doc_id, lang, n_chars FROM (
  SELECT source, doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM documents
)
WHERE rk <= {SAMPLE_PER_GROUP_K}
ORDER BY source, rk
"""


def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split — the leakage-safe upgrade
    of ``pipeline_train_val_split``: hashing RAW doc_ids scatters the
    members of a near-duplicate cluster across splits, which is
    exactly the train→eval contamination dedup exists to prevent.
    Here the split key is the doc's CLUSTER id (connected-component
    label from the verified MinHash pairs, dedup.dedup_clusters;
    singleton docs are their own cluster), so a whole near-dup family
    lands in ONE split by construction.

    The report carries its own proof: ``cross_split_pairs`` counts
    verified near-dup pairs whose endpoints land in different splits
    — 0 by construction, and the oracle recomputes it independently
    (a raw-id split on this corpus is nonzero; the planted clusters
    make the difference visible).

    100 TB: cluster labels are one CC run (already the dedup step's
    output — production reuses that table, never recomputes); the
    split itself is a map-side hash of the label; the audit join
    carries (doc_id, split) pairs only.
    """
    from .dedup import dedup_clusters, dedup_minhash_lsh

    docs = load(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    assigned = (
        docs.join(clusters, "doc_id", "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        )
    )
    bucket = _md5_mod(F.col("cluster_id"), SPLIT_BINS)
    assigned = assigned.withColumn(
        "split",
        F.when(bucket < SPLIT_TRAIN, F.lit("train"))
        .when(bucket < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test")),
    ).localCheckpoint(eager=True)
    pairs = dedup_minhash_lsh(spark, sf_dir).select("ida", "idb")
    a = assigned.select(F.col("doc_id").alias("ida"), F.col("split").alias("sa"))
    b = assigned.select(F.col("doc_id").alias("idb"), F.col("split").alias("sb"))
    crossing = (
        pairs.join(a, "ida")
        .join(b, "idb")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count("*").alias("cross_split_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(crossing))
        .orderBy("split")
    )


def _leakage_safe_split_oracle() -> str:
    from .dedup import _minhash_oracle

    pair_query = _minhash_oracle().replace("ORDER BY ida, idb", "")
    # MATERIALIZED hints matter: pairs feeds edges (x2) + the
    # crossing audit, and sp is read by the final grouping AND both
    # sides of the audit join — DuckDB inlines unmaterialized CTEs
    # per reference, which re-runs the quadratic closure and OOMs at
    # sf0.1 (measured; dedup_clusters' single-reference oracle is fine)
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pair_query}),
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
comp AS MATERIALIZED (
  SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id
),
assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
sp AS MATERIALIZED (
  SELECT doc_id, cluster_id,
         CASE WHEN {_duck_md5_mod('cluster_id', SPLIT_BINS)} < {SPLIT_TRAIN}
                THEN 'train'
              WHEN {_duck_md5_mod('cluster_id', SPLIT_BINS)} < {SPLIT_VAL}
                THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
),
crossing AS (
  SELECT COUNT(*) AS n_cross
  FROM pairs p
  JOIN sp a ON p.ida = a.doc_id
  JOIN sp b ON p.idb = b.doc_id
  WHERE a.split <> b.split
)
SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters,
       (SELECT n_cross FROM crossing) AS cross_split_pairs
FROM sp GROUP BY split ORDER BY split
"""


#: cluster-balanced subsample: docs kept per k-means cell
CLUSTER_SAMPLE_K = 5


def pipeline_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-balanced corpus subsampling — the semantic-diversity
    flattening step of SemDeDup/DCLM-style curation: instead of
    sampling per METADATA stratum (``pipeline_sample_per_group``'s
    source column), sample EXACTLY k docs per LEARNED stratum — the
    trained k-means cell of the doc's embedding — so dense regions of
    embedding space stop dominating the subsample. The per-cell
    ``n_cell`` column carries the flattening evidence: a cell with
    400 docs and a cell with 6 both contribute ≤ CLUSTER_SAMPLE_K.

    Reuses the shared trained ``similarity._assign_cells`` (same
    centroids and cache as the whole IVF family); within a cell the
    pick is the md5(doc_id) rank — reproducible across runs, engines
    and partitionings, ties impossible (doc_id unique).

    100 TB: assignment is the capped-broadcast matmul scan (≤4096
    trained centroids); the sample is one shuffle on the cell id with
    a per-cell top-k window (vocab of cells ≤4096, so the window
    partitions are corpus-sized/k — at extreme cell sizes swap in the
    per-partition partial top-k, same semantics); text never moves —
    the sample carries ids + metadata only.
    """
    from .similarity import _assign_cells, _vecs

    with_cells, _ = _assign_cells(
        spark, _vecs(spark, sf_dir), probes=1, cache_key=sf_dir
    )
    assign = with_cells.select(
        "vec_id", F.element_at("cells", 1).alias("cell")
    )
    docs = load(spark, sf_dir, "documents")
    joined = docs.join(assign, docs["doc_id"] == assign["vec_id"]).select(
        "cell", "doc_id", "source", "n_chars"
    )
    sizes = joined.groupBy("cell").agg(F.count("*").alias("n_cell"))
    w = W.partitionBy("cell").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CLUSTER_SAMPLE_K)
        .join(sizes, "cell")
        .select("cell", "n_cell", "rk", "doc_id", "source", "n_chars")
        .orderBy("cell", "rk")
    )


def _cluster_balanced_sample_oracle() -> str:
    # cell prelude shared with every single-cell _assign_cells
    # consumer's oracle; the md5-rank pick mirrors
    # PIPELINE_SAMPLE_PER_GROUP_ORACLE
    from .similarity import _cell_assign_prelude_sql

    return f"""
{_cell_assign_prelude_sql()},
joined AS (
  SELECT a.cell, d.doc_id, d.source, d.n_chars
  FROM documents d JOIN assign a ON d.doc_id = a.vec_id
),
sizes AS (SELECT cell, COUNT(*) AS n_cell FROM joined GROUP BY cell)
SELECT j.cell, s.n_cell, j.rk, j.doc_id, j.source, j.n_chars
FROM (
  SELECT cell, doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM joined
) j JOIN sizes s USING (cell)
WHERE j.rk <= {CLUSTER_SAMPLE_K}
ORDER BY j.cell, j.rk
"""


#: quality-weighted acceptance: floor probability (ppm) for a
#: zero-quality doc, plus per-decile gain — decile 10 keeps everything
QWS_FLOOR_PPM = 100_000
QWS_GAIN_PPM = 90_000


def pipeline_quality_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-weighted corpus subsampling — the upsample-good/
    downsample-bad step between hard quality GATES (gopher rules:
    in/out) and uniform sampling: each doc is kept with probability
    proportional to its heuristic quality, so low-quality text is
    thinned rather than erased. Mirrors the quality-weighted mixture
    moves of DoReMi/DCLM-style curation in deterministic form.

    Determinism: quality is re-derived as an INTEGER decile (the same
    three components as ``text_quality_score``, weighted 4/3/3 —
    integer arithmetic sidesteps the double*int truncation hazard of
    0.7*900000 = 629999.999…), keep-probability is ``QWS_FLOOR_PPM +
    decile*QWS_GAIN_PPM`` ppm, and acceptance compares it against the
    doc's engine-portable md5-uniform draw (``functions/hashing.py``
    low-60-bit idiom, salted 'qws:' so this sampler is independent of
    the split/shard/sample hashes). Reproducible across runs, engines
    and partitionings; no rand() anywhere.

    100 TB: one scan, all row-local expressions (regexp counts +
    hash compare), zero shuffles before the output sort — the sampler
    itself is a pure map-side filter that composes with any
    downstream op.
    """
    docs = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.regexp_count(F.col("text"), F.lit(r"\b(the|a|of|and|is)\b"))
    alpha_chars = F.length(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", "")
    )
    mean_tok_len = alpha_chars / n_tokens
    decile = (
        F.when((n_tokens >= 20) & (n_tokens <= 1000), F.lit(4)).otherwise(
            F.lit(0)
        )
        + F.when((n_stop / n_tokens) > 0.05, F.lit(3)).otherwise(F.lit(0))
        + F.when(
            (mean_tok_len >= 3) & (mean_tok_len <= 10), F.lit(3)
        ).otherwise(F.lit(0))
    ).cast("long")
    u_ppm = _md5_low60(
        F.concat(F.lit("qws:"), F.col("doc_id").cast("string"))
    ) % 1_000_000
    return (
        docs.select(
            "doc_id",
            "source",
            decile.alias("quality_decile"),
            (F.lit(QWS_FLOOR_PPM) + decile * QWS_GAIN_PPM).alias("keep_ppm"),
            u_ppm.alias("draw_ppm"),
        )
        .filter(F.col("draw_ppm") < F.col("keep_ppm"))
        .orderBy("doc_id")
    )


def _quality_weighted_sample_oracle() -> str:
    u = _duck_md5_low60("concat('qws:', CAST(doc_id AS VARCHAR))")
    return rf"""
WITH d AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS n_stopwords,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS alpha_chars,
         {u} % 1000000 AS draw_ppm
  FROM documents
),
scored AS (
  SELECT doc_id, source, draw_ppm,
         CAST(
           (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 4 ELSE 0 END)
           + (CASE WHEN n_stopwords * 1.0 / n_tokens > 0.05 THEN 3 ELSE 0 END)
           + (CASE WHEN alpha_chars * 1.0 / n_tokens BETWEEN 3 AND 10 THEN 3 ELSE 0 END)
         AS BIGINT) AS quality_decile
  FROM d
)
SELECT doc_id, source, quality_decile,
       {QWS_FLOOR_PPM} + quality_decile * {QWS_GAIN_PPM} AS keep_ppm,
       draw_ppm
FROM scored
WHERE draw_ppm < {QWS_FLOOR_PPM} + quality_decile * {QWS_GAIN_PPM}
ORDER BY doc_id
"""


#: token-budget planner: budget as a fraction of the corpus (9/10 —
#: high enough that temperature-upweighted small languages exceed
#: their availability and the water-filling branch actually runs)
PLAN_BUDGET_NUM, PLAN_BUDGET_DEN = 9, 10


def pipeline_token_budget_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-constrained token-budget planning — the step
    ``pipeline_mix_weights`` stops short of: a temperature-scaled
    quota is a WISH, and a small language cannot supply more tokens
    than it has (Muennighoff et al. 2023's data-constrained regime).
    Per language: availability, the T=2 temperature quota against a
    budget of 9/10 of the corpus, the capped first-round allocation,
    and ONE water-filling round that redistributes the capped
    languages' shortfall across the uncapped ones in proportion to
    their weights (re-capped; integer flooring leaves a small
    documented ``unallocated`` remainder rather than looping to
    exhaustion). ``epochs_milli`` = 1000·alloc/avail is the
    how-many-epochs-of-each-language readout the sampler consumes.
    On the fixture, four of five languages cap and ``en`` absorbs the
    overflow — both branches execute.

    Engine-bit-exactness: the sqrt weights are quantized to
    DECIMAL(18,6) before every normalizing sum (the
    ``pipeline_mix_weights`` discipline), so each FLOOR sees
    identical doubles in both engines; everything else is integer.

    100 TB: one scan with a map-side token count to #languages rows;
    the plan itself is window math over those few rows — the heavy
    data never shuffles, and the output IS the sampler's config.
    """
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("lang", F.size(tokens_col(F.col("text"))).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("avail"))
    )
    whole = W.partitionBy()
    w_raw = F.round(F.sqrt(F.col("avail").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    r1 = (
        per.withColumn("w_raw", w_raw)
        .withColumn("denom", F.sum("w_raw").over(whole))
        .withColumn(
            "budget",
            F.expr(
                f"(sum(avail) over () * {PLAN_BUDGET_NUM})"
                f" div {PLAN_BUDGET_DEN}"
            ),
        )
        .withColumn(
            "quota",
            F.floor(
                (F.col("w_raw").cast("double") / F.col("denom").cast("double"))
                * F.col("budget")
            ).cast("long"),
        )
        .withColumn("alloc1", F.least("quota", "avail"))
        .withColumn("capped", F.col("quota") > F.col("avail"))
    )
    r2 = (
        r1.withColumn(
            "leftover", F.col("budget") - F.sum("alloc1").over(whole)
        )
        .withColumn(
            "uncap_denom",
            F.sum(F.when(~F.col("capped"), F.col("w_raw"))).over(whole),
        )
        .withColumn(
            "extra",
            F.when(
                F.col("capped") | F.col("uncap_denom").isNull(), F.lit(0)
            ).otherwise(
                F.floor(
                    F.col("leftover")
                    * (
                        F.col("w_raw").cast("double")
                        / F.col("uncap_denom").cast("double")
                    )
                ).cast("long")
            ),
        )
        .withColumn(
            "alloc", F.least(F.col("alloc1") + F.col("extra"), F.col("avail"))
        )
    )
    return (
        r2.withColumn(
            "unallocated", F.col("budget") - F.sum("alloc").over(whole)
        )
        .select(
            "lang",
            F.col("avail").alias("avail_tokens"),
            "budget",
            "quota",
            "capped",
            "alloc",
            F.expr("(1000 * alloc) div avail").alias("epochs_milli"),
            "unallocated",
        )
        .orderBy("lang")
    )


def _token_budget_planner_oracle() -> str:
    return rf"""
WITH per AS (
  SELECT lang,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS avail
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, avail,
         CAST(ROUND(sqrt(avail), 6) AS DECIMAL(18,6)) AS w_raw,
         SUM(CAST(ROUND(sqrt(avail), 6) AS DECIMAL(18,6))) OVER () AS denom,
         CAST((SUM(avail) OVER () * {PLAN_BUDGET_NUM}) // {PLAN_BUDGET_DEN}
              AS BIGINT) AS budget
  FROM per
),
r1 AS (
  SELECT *,
         CAST(FLOOR((CAST(w_raw AS DOUBLE) / CAST(denom AS DOUBLE)) * budget) AS BIGINT) AS quota
  FROM w
),
r1b AS (
  SELECT *, LEAST(quota, avail) AS alloc1, quota > avail AS capped FROM r1
),
r2 AS (
  SELECT *,
         budget - SUM(alloc1) OVER () AS leftover,
         SUM(CASE WHEN NOT capped THEN w_raw END) OVER () AS uncap_denom
  FROM r1b
),
r2b AS (
  SELECT *,
         CASE WHEN capped OR uncap_denom IS NULL THEN 0
              ELSE CAST(FLOOR(leftover * (CAST(w_raw AS DOUBLE) / CAST(uncap_denom AS DOUBLE))) AS BIGINT)
         END AS extra
  FROM r2
),
r3 AS (
  SELECT *, LEAST(alloc1 + extra, avail) AS alloc FROM r2b
)
SELECT lang, avail AS avail_tokens, budget, quota, capped, alloc,
       CAST((1000 * alloc) // avail AS BIGINT) AS epochs_milli,
       CAST(budget - SUM(alloc) OVER () AS BIGINT) AS unallocated
FROM r3
ORDER BY lang
"""


QUERIES = {
    "pipeline_decontaminate": pipeline_decontaminate,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_sample_stratified": pipeline_sample_stratified,
    "pipeline_repetition_score": pipeline_repetition_score,
    "pipeline_mix_weights": pipeline_mix_weights,
    "pipeline_train_val_split": pipeline_train_val_split,
    "pipeline_global_shuffle": pipeline_global_shuffle,
    "pipeline_end_to_end": pipeline_end_to_end,
    "pipeline_incremental_dedup": pipeline_incremental_dedup,
    "pipeline_sample_per_group": pipeline_sample_per_group,
    "pipeline_leakage_safe_split": pipeline_leakage_safe_split,
    "pipeline_cluster_balanced_sample": pipeline_cluster_balanced_sample,
    "pipeline_quality_weighted_sample": pipeline_quality_weighted_sample,
    "pipeline_token_budget_planner": pipeline_token_budget_planner,
}

ORACLES = {
    "pipeline_decontaminate": PIPELINE_DECONTAMINATE_ORACLE,
    "pipeline_pack_sequences": PIPELINE_PACK_ORACLE,
    "pipeline_sample_stratified": PIPELINE_SAMPLE_ORACLE,
    "pipeline_repetition_score": PIPELINE_REPETITION_ORACLE,
    "pipeline_mix_weights": PIPELINE_MIX_ORACLE,
    "pipeline_train_val_split": PIPELINE_SPLIT_ORACLE,
    "pipeline_global_shuffle": PIPELINE_SHUFFLE_ORACLE,
    "pipeline_end_to_end": PIPELINE_END_TO_END_ORACLE,
    "pipeline_incremental_dedup": PIPELINE_INCREMENTAL_DEDUP_ORACLE,
    "pipeline_sample_per_group": PIPELINE_SAMPLE_PER_GROUP_ORACLE,
    "pipeline_leakage_safe_split": _leakage_safe_split_oracle(),
    "pipeline_cluster_balanced_sample": _cluster_balanced_sample_oracle(),
    "pipeline_quality_weighted_sample": _quality_weighted_sample_oracle(),
    "pipeline_token_budget_planner": _token_budget_planner_oracle(),
}


def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics — the per-(lang, source) summary block
    every corpus release ships (HuggingFace dataset cards, Dolma/DCLM
    data sheets): document count, corpus share, volume, mean document
    length, and the within-group exact-duplicate rate. This is the
    one-scan readout a pipeline owner checks BEFORE spending compute
    on the heavier near-dup / quality passes — a group with a high
    exact-dup ppm gets hash-dedup first; a group with a tiny share
    needs no balancing work.

    Per (lang, source): ``n_docs``, ``share_ppm`` (integer ppm of the
    corpus), ``total_chars``, ``mean_chars`` (decimal-exact avg,
    6 dp), and ``exact_dup_ppm`` = (n_docs − distinct md5(text)) ppm —
    the fraction of rows that exact hash-dedup would drop.

    100 TB: ONE documents scan into one (lang, source) partial-agg
    shuffle (count/sum combine map-side; COUNT(DISTINCT md5) is
    Spark's standard two-phase distinct-agg expansion on the same
    keys); the corpus total rides a literal from a driver-side count,
    never a crossJoin. Group count is bounded by the label
    cardinality, so the result is dashboard-sized at any corpus size.
    Reference: SURVEY.md §2B pipeline row (ABSENT in the reference).
    """
    docs = load(spark, sf_dir, "documents")
    total = docs.count()
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct(F.md5("text")).alias("n_distinct"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            F.expr(f"n_docs * 1000000 div {total}").alias("share_ppm"),
            "total_chars",
            F.round(
                F.col("total_chars").cast("decimal(28,6)") / F.col("n_docs"), 6
            ).cast("double").alias("mean_chars"),
            F.expr("(n_docs - n_distinct) * 1000000 div n_docs").alias(
                "exact_dup_ppm"
            ),
        )
        .orderBy("lang", "source")
    )


PIPELINE_DATASET_CARD_ORACLE = """
WITH t AS (SELECT COUNT(*) AS total FROM documents),
g AS (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
  FROM documents GROUP BY lang, source
)
SELECT g.lang, g.source, g.n_docs,
       g.n_docs * 1000000 // t.total AS share_ppm,
       g.total_chars,
       CAST(ROUND(CAST(g.total_chars AS DECIMAL(28,6)) / g.n_docs, 6) AS DOUBLE) AS mean_chars,
       (g.n_docs - g.n_distinct) * 1000000 // g.n_docs AS exact_dup_ppm
FROM g CROSS JOIN t
ORDER BY g.lang, g.source
"""


QUERIES["pipeline_dataset_card"] = pipeline_dataset_card
ORACLES["pipeline_dataset_card"] = PIPELINE_DATASET_CARD_ORACLE
