"""Text-analysis operators over ``documents`` (north star —
SURVEY.md §2B "Text analysis"; ABSENT in the reference).

All pure built-in expressions (split/regexp/md5) — JVM-side,
WholeStageCodegen, no UDFs. At 100 TB these run at scan bandwidth:
per-document work is embarrassingly parallel, the only shuffles are
the final small aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import normalized_text_col, tokens_col
from ..sources.fixtures import load

# language → marker stopwords for the n-gram/stopword language-ID
# heuristic. (The fixture corpus is synthetic shared-vocabulary text,
# so predictions won't match the synthetic `lang` labels — the oracle
# checks the computation, not labeling accuracy.)
_LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es"],
    "zh": ["的", "是", "了"],
}


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token / char / punctuation counts per document, plus corpus
    aggregates per language."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]")).alias("n_punct"),
        F.regexp_count(F.col("text"), F.lit(r"[0-9]")).alias("n_digits"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars_computed").alias("total_chars"),
            F.sum("n_punct").alias("total_punct"),
            (F.sum("n_tokens") / F.count("*")).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


TEXT_TOKEN_STATS_ORACLE = r"""
WITH per_doc AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(text) AS n_chars_computed,
         len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digits
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars_computed) AS BIGINT) AS total_chars,
       CAST(SUM(n_punct) AS BIGINT) AS total_punct,
       SUM(n_tokens) * 1.0 / COUNT(*) AS avg_tokens
FROM per_doc GROUP BY lang ORDER BY lang
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length band + stopword ratio + mean
    token length, the standard cheap pre-filter in LLM data pipelines.
    Integer-ratio arithmetic → deterministic doubles cross-engine."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.regexp_count(F.col("text"), F.lit(r"\b(the|a|of|and|is)\b"))
    mean_tok_len = (F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", "")) / n_tokens)
    score = (
        F.when((n_tokens >= 20) & (n_tokens <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((n_stop / n_tokens) > 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(score, 2).alias("quality_score"),
    ).orderBy("doc_id")


TEXT_QUALITY_ORACLE = r"""
WITH d AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS n_stopwords,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS alpha_chars
  FROM documents
)
SELECT doc_id, lang, n_tokens, n_stopwords,
       ROUND(alpha_chars * 1.0 / n_tokens, 6) AS mean_token_len,
       ROUND(
         (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         + (CASE WHEN n_stopwords * 1.0 / n_tokens > 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         + (CASE WHEN alpha_chars * 1.0 / n_tokens BETWEEN 3 AND 10 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END),
       2) AS quality_score
FROM d ORDER BY doc_id
"""


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: per-language marker hit counts,
    argmax with deterministic tie-break (highest count, then language
    code order; 'und' = undetermined when nothing matches)."""
    docs = load(spark, sf_dir, "documents")
    scores = {
        lang: F.regexp_count(
            F.lower(F.col("text")),
            F.lit(r"\b(" + "|".join(markers) + r")\b"),
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    best = None
    for lang in sorted(scores):  # deterministic precedence
        cond = (scores[lang] > 0) & F.lit(True)
        for other in sorted(scores):
            if other == lang:
                continue
            op = scores[other] <= scores[lang] if other > lang else scores[other] < scores[lang]
            cond = cond & op
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    pred = best.otherwise(F.lit("und"))
    out = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        pred.alias("pred_lang"),
    )
    return out.orderBy("doc_id")


def _langid_oracle() -> str:
    score_sql = {
        lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(m)})\\b'))"
        for lang, m in _LANG_MARKERS.items()
    }
    langs = sorted(score_sql)
    cases = []
    for lang in langs:
        conds = [f"score_{lang} > 0"]
        for other in langs:
            if other == lang:
                continue
            op = "<=" if other > lang else "<"
            conds.append(f"score_{other} {op} score_{lang}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    score_cols = ",\n         ".join(f"{sql} AS score_{lang}" for lang, sql in sorted(score_sql.items()))
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {score_cols}
  FROM documents
)
SELECT doc_id, labeled_lang, {', '.join('score_' + l for l in langs)},
       {case_sql} AS pred_lang
FROM scored ORDER BY doc_id
"""


#: BPE-ish pre-tokenizer: letter runs, single digits, punctuation
#: runs — the GPT-2-style split approximated in one regex (the real
#: merge table is a lookup the engine would broadcast; counting the
#: pre-tokens is the pipeline-relevant cost signal).
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace vs BPE-ish regex (north-star brief):
    per-doc counts + a chars-per-token compression proxy."""
    docs = load(spark, sf_dir, "documents")
    ws_tokens = F.size(tokens_col(F.col("text")))
    bpe_tokens = F.regexp_count(F.col("text"), F.lit(BPE_PATTERN))
    return docs.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        bpe_tokens.alias("bpe_tokens"),
        F.round(F.length("text") / bpe_tokens, 4).alias("chars_per_bpe_token"),
    ).orderBy("doc_id")


TEXT_TOKEN_COUNT_BPE_ORACLE = rf"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens,
       ROUND(length(text) * 1.0 / len(regexp_extract_all(text, '{BPE_PATTERN}')), 4)
         AS chars_per_bpe_token
FROM documents
ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (the exact-
    dup key) + a 4-token prefix locality fingerprint."""
    docs = load(spark, sf_dir, "documents")
    norm = normalized_text_col(F.col("text"))
    toks = tokens_col(norm)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.md5(F.concat_ws(" ", *[F.element_at(toks, i + 1) for i in range(4)])).alias(
            "prefix_fingerprint"
        ),
        F.length(norm).alias("norm_len"),
    ).orderBy("doc_id")


TEXT_FINGERPRINT_ORACLE = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n
)
SELECT doc_id,
       md5(norm) AS fingerprint,
       md5(concat_ws(' ', toks[1], toks[2], toks[3], toks[4])) AS prefix_fingerprint,
       length(norm) AS norm_len
FROM t ORDER BY doc_id
"""


CHUNK_SIZE = 50  # tokens per training chunk


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (training-data prep): split each
    document into fixed-size token chunks, reconstructing chunk text
    with deterministic token order.

    Shape at 100 TB: posexplode (map-side) → one shuffle keyed by
    (doc, chunk) → per-chunk agg; collect_list is made deterministic
    by sorting the (pos, token) structs before joining.
    """
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "t")
    ).withColumn("chunk_id", (F.col("pos") / CHUNK_SIZE).cast("int"))
    return (
        tok.groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "t"))),
                    lambda s: s.getField("t"),
                ),
                " ",
            ).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


TEXT_CHUNKING_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, u.t, u.pos - 1 AS pos
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
  ), LATERAL (SELECT unnest(toks) AS t, generate_subscripts(toks, 1) AS pos) u
)
SELECT doc_id,
       CAST(floor(pos / {CHUNK_SIZE}) AS INT) AS chunk_id,
       COUNT(*) AS n_tokens,
       MIN(pos) AS start_pos,
       MAX(pos) AS end_pos,
       string_agg(t, ' ' ORDER BY pos) AS chunk_text
FROM tok
GROUP BY doc_id, CAST(floor(pos / {CHUNK_SIZE}) AS INT)
ORDER BY doc_id, chunk_id
"""


def text_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-20 (explode → count → top-k with
    deterministic tie-break). The 100 TB shape: partial counts
    map-side, one shuffle keyed by token, TakeOrdered for the top-k."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


TEXT_TOKEN_FREQUENCY_ORACLE = r"""
SELECT token, COUNT(*) AS freq
FROM (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents
) t
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
"""


TFIDF_TOP_K = 3


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: per doc, the top-3 tokens by
    tf * ln(N/df). The idf is ROUNDED to 6 decimals before the
    multiply — ln() comes from each engine's libm and may differ in
    the last ulp; rounding first keeps the product (int * rounded
    double) bit-comparable cross-engine, the same discipline as the
    decimal-sum rule.

    100 TB shape: token explode (map-side) → tf agg keyed by
    (doc, token) → df agg keyed by token (both partial-agg'd) → a
    broadcast-sized token→idf join only if the vocab is small, else
    the (token) shuffle join here; top-k per doc is a bounded window.
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count("*").alias("df")
    )
    idf = df_.withColumn(
        "idf", F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    )
    scored = tf.join(idf, "token").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 6)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


TEXT_TFIDF_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
),
idf AS (
  SELECT token, df,
         ROUND(ln((SELECT COUNT(*) FROM documents) * 1.0 / df), 6) AS idf
  FROM df
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, idf.df,
         ROUND(tf.tf * idf.idf, 6) AS tfidf
  FROM tf JOIN idf USING (token)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC
  ) AS rank
  FROM scored
)
SELECT doc_id, token, tf, df, tfidf, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


#: PII patterns — deliberately simple enough to behave identically in
#: Java regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub pass every training-data
    pipeline runs before tokenization: find emails / IPv4s / SSN-shaped
    ids, count them per document, and replace each with a typed
    placeholder so downstream dedup/fingerprints see stable text.

    The synthetic corpus carries no PII, so a deterministic subset is
    PLANTED in-query (same construction in the oracle — the row_diff
    pattern): every 3rd doc gains an email, every 4th an IP, every 5th
    an SSN, all derived from doc_id. The scrub machinery under test is
    real; only the dirt is synthetic.

    100 TB: pure regexp built-ins over the text column — JVM-side
    codegen at scan bandwidth, zero shuffles before the presentation
    sort (which a production run drops). Redaction order is fixed
    email → ip → ssn; the patterns are disjoint by construction so
    order cannot change the result.
    """
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def _num(expr) -> F.Column:
        return expr.cast("string")

    planted = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), _num(did), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" from 10."), _num(did % 256), F.lit(".0."), _num(did % 100)
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" id "),
                _num(did % 900 + 100),
                F.lit("-"),
                _num(did % 90 + 10),
                F.lit("-"),
                _num(did % 9000 + 1000),
            ),
        ).otherwise(F.lit("")),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(PII_IPV4),
            F.lit("<IP>"),
        ),
        F.lit(PII_SSN),
        F.lit("<SSN>"),
    )
    from ..functions.hashing import md5_low60

    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(planted, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(planted, F.lit(PII_SSN)).alias("n_ssns"),
        F.length(clean).alias("clean_len"),
        md5_low60(clean).alias("clean_fp"),
    ).orderBy("doc_id")


def _pii_oracle() -> str:
    from ..functions.hashing import duck_md5_low60

    planted = (
        "text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com now' ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' id ' || CAST(doc_id % 900 + 100 AS VARCHAR)"
        " || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)"
        " || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END"
    )
    email, ipv4, ssn = PII_EMAIL, PII_IPV4, PII_SSN
    clean = (
        f"regexp_replace(regexp_replace(regexp_replace(planted, "
        f"'{email}', '<EMAIL>', 'g'), "
        f"'{ipv4}', '<IP>', 'g'), "
        f"'{ssn}', '<SSN>', 'g')"
    )
    return f"""
WITH p AS (SELECT doc_id, {planted} AS planted FROM documents),
c AS (SELECT doc_id, planted, {clean} AS clean FROM p)
SELECT doc_id,
       len(regexp_extract_all(planted, '{email}')) AS n_emails,
       len(regexp_extract_all(planted, '{ipv4}')) AS n_ips,
       len(regexp_extract_all(planted, '{ssn}')) AS n_ssns,
       length(clean) AS clean_len,
       {duck_md5_low60("clean")} AS clean_fp
FROM c
ORDER BY doc_id
"""


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule ensemble (Rae et al. 2021, §A1.1):
    per-document boolean gates + a single keep flag.

    Distinct from ``text_quality_score`` (a scalar score): this is the
    filter-with-reasons shape production pipelines need — each rule is
    its own column so corpus triage can ask "what fraction fails WHICH
    rule".  All integer/ratio arithmetic on built-ins; the word-level
    alpha check is a higher-order ``filter`` over a materialized token
    array (bounded per-row work, zero shuffle, no Python).
    Bounds adapted to the synthetic corpus (docs are ~10-40 words).
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", "text", tokens_col(F.col("text")).alias("words")
    )
    n_words = F.size("words")
    mean_wlen = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", "")) / n_words
    n_alpha_words = F.size(F.filter(F.col("words"), lambda w: w.rlike("[a-zA-Z]")))
    n_stop = F.regexp_count(F.col("text"), F.lit(r"\b(the|a|of|and|is)\b"))
    symbol_ratio = F.regexp_count(F.col("text"), F.lit(r"#|\.\.\.")) / n_words
    rules = toks.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        (n_words.between(10, 1000)).alias("rule_word_count"),
        ((mean_wlen >= 3) & (mean_wlen <= 10)).alias("rule_mean_word_len"),
        ((n_alpha_words / n_words) > 0.8).alias("rule_alpha_words"),
        (n_stop >= 2).alias("rule_stopwords"),
        (symbol_ratio < 0.1).alias("rule_symbol_ratio"),
    )
    return rules.withColumn(
        "keep",
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_alpha_words")
        & F.col("rule_stopwords")
        & F.col("rule_symbol_ratio"),
    ).orderBy("doc_id")


TEXT_GOPHER_RULES_ORACLE = r"""
WITH d AS (
  SELECT doc_id, lang,
         string_split_regex(trim(text), '\s+') AS words,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS alpha_chars,
         len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS n_stop,
         len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbols
  FROM documents
), r AS (
  SELECT doc_id, lang, len(words) AS n_words,
         len(words) BETWEEN 10 AND 1000 AS rule_word_count,
         (alpha_chars * 1.0 / len(words)) BETWEEN 3 AND 10 AS rule_mean_word_len,
         (len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0
            / len(words)) > 0.8 AS rule_alpha_words,
         n_stop >= 2 AS rule_stopwords,
         (n_symbols * 1.0 / len(words)) < 0.1 AS rule_symbol_ratio
  FROM d
)
SELECT doc_id, lang, n_words, rule_word_count, rule_mean_word_len,
       rule_alpha_words, rule_stopwords, rule_symbol_ratio,
       rule_word_count AND rule_mean_word_len AND rule_alpha_words
         AND rule_stopwords AND rule_symbol_ratio AS keep
FROM r ORDER BY doc_id
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character-entropy per document — a cheap gibberish /
    low-diversity signal (near-zero entropy = repeated characters).

    Fully ROW-LOCAL: letters are extracted once into an array column,
    per-letter counts come from a higher-order ``filter`` over the
    distinct (sorted) alphabet, and the entropy is a LEFT FOLD
    (``F.aggregate``) over alphabet-sorted terms — a deterministic
    summation order both engines reproduce, so the double hashes
    bit-stable (plus a round(6) belt).  Zero shuffles, no Python; the
    per-row work is bounded by alphabet_size × doc_length.
    """
    docs = load(spark, sf_dir, "documents")
    with_chars = docs.select(
        "doc_id",
        "lang",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]"), 0).alias("chars"),
    ).select(
        "doc_id",
        "lang",
        "chars",
        F.array_sort(F.array_distinct(F.col("chars"))).alias("alphabet"),
    )
    n = F.size("chars")
    p_of = lambda c: F.size(F.filter(F.col("chars"), lambda x: x == c)) / n
    terms = F.transform(
        F.col("alphabet"), lambda c: -(p_of(c) * F.log2(p_of(c)))
    )
    entropy = F.aggregate(
        terms, F.lit(0.0).cast("double"), lambda acc, x: acc + x
    )
    return with_chars.select(
        "doc_id",
        "lang",
        n.alias("n_letters"),
        F.size("alphabet").alias("n_distinct"),
        F.round(entropy, 6).alias("entropy_bits"),
    ).orderBy("doc_id")


TEXT_CHAR_ENTROPY_ORACLE = r"""
WITH d AS (
  SELECT doc_id, lang,
         regexp_extract_all(lower(text), '[a-z]') AS chars
  FROM documents
), a AS (
  SELECT doc_id, lang, chars,
         list_sort(list_distinct(chars)) AS alphabet
  FROM d
)
SELECT doc_id, lang,
       len(chars) AS n_letters,
       len(alphabet) AS n_distinct,
       ROUND(list_aggregate(
         list_transform(alphabet, c ->
           -((len(list_filter(chars, x -> x = c)) * 1.0 / len(chars))
             * log2(len(list_filter(chars, x -> x = c)) * 1.0 / len(chars)))),
         'sum'), 6) AS entropy_bits
FROM a ORDER BY doc_id
"""


def text_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report: doc/char volume, language diversity,
    and corpus share — the triage view before setting mixture weights.

    Two-stage: a grouped aggregate (one shuffle on ``source``) then a
    whole-set window for the share denominators over the tiny grouped
    result — the window never sees row-level data.
    """
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        (F.sum("n_chars") / F.count("*")).alias("mean_chars"),
    )
    w = W.partitionBy()
    return per_src.select(
        "source",
        "n_docs",
        "total_chars",
        "n_langs",
        F.round("mean_chars", 6).alias("mean_chars"),
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("doc_share"),
        F.round(F.col("total_chars") / F.sum("total_chars").over(w), 6).alias(
            "char_share"
        ),
    ).orderBy("source")


TEXT_SOURCE_STATS_ORACLE = """
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         COUNT(DISTINCT lang) AS n_langs,
         SUM(n_chars) * 1.0 / COUNT(*) AS mean_chars
  FROM documents GROUP BY source
)
SELECT source, n_docs, total_chars, n_langs,
       ROUND(mean_chars, 6) AS mean_chars,
       ROUND(n_docs * 1.0 / SUM(n_docs) OVER (), 6) AS doc_share,
       ROUND(total_chars * 1.0 / SUM(total_chars) OVER (), 6) AS char_share
FROM s ORDER BY source
"""


def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document — the classic perplexity
    pre-filter (CCNet-style) with the LM trained on the corpus itself.

    Two shuffles total at any scale: (1) token counts (partial-agg'd),
    (2) per-doc surprise sums. Cross-engine float discipline — a
    QUANTIZATION LADDER: JVM and C libm log2 differ in the last ULP,
    so any rounding of a log can flip when the true value sits within
    ~1e-10 of a rounding boundary. Per-token surprise is rounded at
    2 dp (boundary spacing 5e-3; at 6 dp a ULP flip DID occur at
    sf0.1), summed decimal-exact. The per-doc average is emitted
    UNROUNDED: both engines divide identical doubles (exact-decimal
    total / integer count) and IEEE division is bit-deterministic —
    whereas ROUNDING the quotient is the hazard: a 2-dp decimal over a
    small integer lands on exact decimal halves constantly, where
    BigDecimal HALF_UP (Spark) and double rounding (DuckDB) disagree
    (measured: 12 of 5000 docs at sf0.1). Only the pow() output is
    rounded (2 dp; libm pow ULP vs 5e-3 spacing ⇒ negligible).
    Centibit resolution is ample for a perplexity FILTER. The vocab
    side of the score join is broadcast-able when small; at web scale
    it becomes a shuffle join on token — both shapes are Catalyst's
    choice, not hand-wired.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    # r18 second pass: a per-(doc,token) TF-first rewrite (vocab and
    # per-doc sums derived from one TF frame via tf-weighted exact
    # decimals) was BUILT, ORACLE-VERIFIED AND MEASURED here — and
    # REJECTED on the numbers: both of this query's aggregates are
    # already partial/map-side, so the old shape shuffles only
    # partial-agg rows (0.25 MB real shuffle at sf0.1 beside a 1.68 MB
    # rebalance), while the TF frame's exchange shipped every distinct
    # (doc,token) pair (audit: 1.93 → 2.92 MB written, 2.09 → 4.89 MB
    # read) and the wall read +0.2 s. Tokenizing twice is pure in-task
    # compute — cheaper than shuffling the pairs at every scale.
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    # Corpus token total as a 1-row broadcast, NOT a global window:
    # an unpartitioned WindowExec would pull the entire VOCAB frame
    # (unbounded at web scale — the typo tail) into one task.  The
    # MAX/SUM branch partial-aggregates map-side to one row per
    # partition and reuses the vocab exchange (AQE ReusedExchange);
    # cnt and total are identical integers either way, so the scored
    # doubles are bit-identical to the old window shape.
    total_df = vocab.agg(F.sum("cnt").alias("total_cnt"))
    scored_vocab = vocab.crossJoin(F.broadcast(total_df)).select(
        "token",
        F.round(-F.log2(F.col("cnt") / F.col("total_cnt")), 2).alias(
            "surprise_bits"
        ),
    )
    per_doc = (
        toks.join(scored_vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("surprise_bits").cast("decimal(22,2)"))
            .cast("double")
            .alias("total_bits"),
        )
    )
    avg_bits = F.col("total_bits") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        avg_bits.alias("avg_bits"),
        F.round(F.pow(F.lit(2.0), avg_bits), 2).alias("perplexity"),
    ).orderBy("doc_id")


TEXT_UNIGRAM_PERPLEXITY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
), vocab AS (
  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
), scored AS (
  SELECT token, ROUND(-log2(cnt * 1.0 / SUM(cnt) OVER ()), 2) AS surprise_bits
  FROM vocab
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(CAST(surprise_bits AS DECIMAL(22,2))) AS DOUBLE) AS total_bits
  FROM toks JOIN scored USING (token) GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       total_bits / n_tokens AS avg_bits,
       ROUND(pow(2.0, total_bits / n_tokens), 2) AS perplexity
FROM per_doc ORDER BY doc_id
"""


#: heavy-hitter threshold: bigrams holding more than 0.12% of all
#: bigram occurrences (compared in exact integer space:
#: 10000*c > 12*n) — non-degenerate at sf0.001/0.01/0.1 (325/316/79
#: qualifying grams of ~916/931 distinct).
_HH_NUM, _HH_DEN = 12, 10000
#: Misra-Gries summary capacity per partition. The MG guarantee is
#: est ≥ true − N_p/(k+1); combined with the pigeonhole argument
#: (any gram with global share > s exceeds share s in ≥1 partition),
#: capacity k+1 ≥ 1/s = 834 means NO global heavy hitter can be
#: missed. 2048 gives >2x headroom.
_MG_CAPACITY = 2048


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent token bigrams via the classic two-pass distributed
    heavy-hitter algorithm: (1) per-partition **Misra-Gries sketches**
    (fixed memory, mergeable — Agarwal et al., "Mergeable Summaries")
    produce a small candidate superset that provably contains every
    bigram with corpus share > 0.12%; (2) only the candidates are
    exactly recounted (broadcast semi join) and threshold-filtered.

    The output is therefore EXACT — identical to a full groupBy —
    while the expensive first pass never shuffles: each partition
    emits ≤ _MG_CAPACITY candidate rows no matter how many billions
    of grams it scanned, and the recount aggregates a semi-join-pruned
    stream. The threshold test is pure integer arithmetic
    (10000·cnt > 12·N), so no float boundary can flip cross-engine.

    This is the ONE textops path using Python (Arrow ``mapInPandas``,
    vectorized value_counts + batched MG merge — never per-row); the
    rest of the family is pure built-ins. At 100 TB the alternative
    (full groupBy over every distinct gram) shuffles the whole gram
    universe; this shuffles ≤ 32k candidate strings + one count.
    """
    import pandas as pd

    from ..functions.text import ngram_rows

    docs = load(spark, sf_dir, "documents")
    grams = ngram_rows(docs, 2, out_col="gram").select("gram")
    # the gram build (tokenize + posexplode + per-doc window) is the
    # expensive part and three consumers need it (total count, MG
    # sketch pass, exact recount). r18: localCheckpoint(eager) the
    # NARROW gram projection so the build runs ONCE and all three
    # consumers (including the returned recount plan, which the old
    # persist→unpersist discipline forced to rebuild) read the
    # materialized blocks — same pattern as the LSH pipeline's hashed
    # checkpoint (dedup.py). Blocks are freed when the frame is GC'd
    # (periodicGC), so long-lived bench/driver sessions don't ratchet.
    grams = grams.localCheckpoint(eager=True)
    total = grams.count()

    def mg_summaries(batches):
        # batched Misra-Gries merge: add the batch's value_counts, then
        # if over capacity subtract the (k+1)-th largest weight from
        # everyone and drop the non-positive — the standard mergeable-
        # summary prune, error ≤ N_p/(k+1). Vectorized per batch.
        acc = pd.Series(dtype="int64")
        for pdf in batches:
            acc = acc.add(pdf["gram"].value_counts(), fill_value=0)
            if len(acc) > _MG_CAPACITY:
                cut = acc.nlargest(_MG_CAPACITY + 1).iloc[-1]
                acc = acc[acc > cut] - cut
        yield pd.DataFrame({"gram": acc.index.astype(str)})

    # r19 (VERDICT r18 item 7, guide §5): the candidate set used to
    # round-trip through the driver (collect → createDataFrame →
    # broadcast), serializing a Python-side hop between the sketch
    # pass and the recount. The broadcast build side now IS the sketch
    # plan — same candidate multiset (≤ partitions × _MG_CAPACITY rows,
    # distinct-bounded), no mid-query collect, and the exactness
    # argument is unchanged (candidates ⊇ true heavy hitters, recount
    # is exact).
    candidates = grams.mapInPandas(mg_summaries, "gram string").distinct()
    return (
        grams.join(F.broadcast(candidates), "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        # bigint casts: cnt is already bigint, but _HH_NUM * total is
        # int32 x int32 and overflows past ~179M grams (ANSI throw or
        # silent wrap) — cast before multiplying
        .filter(
            F.lit(_HH_DEN).cast("bigint") * F.col("cnt")
            > F.lit(_HH_NUM).cast("bigint") * F.lit(total).cast("bigint")
        )
        .orderBy(F.desc("cnt"), "gram")
    )


TEXT_HEAVY_HITTERS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, u.t, u.pos FROM (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
  ), LATERAL (SELECT unnest(toks) AS t, generate_subscripts(toks, 1) AS pos) u
),
bg AS (
  SELECT concat_ws(' ', t, lead(t, 1) OVER w) AS gram,
         lead(t, 1) OVER w AS nxt
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (SELECT gram FROM bg WHERE nxt IS NOT NULL),
tot AS (SELECT COUNT(*) AS n FROM g)
SELECT gram, COUNT(*) AS cnt
FROM g, tot
GROUP BY gram, n
HAVING {_HH_DEN} * COUNT(*) > {_HH_NUM} * n
ORDER BY cnt DESC, gram
"""


def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE BPE-training iteration's pair-count + argmax step, the
    distributed way tokenizer trainers actually do it: aggregate the
    corpus to a (word, frequency) table FIRST — pair counting then
    costs O(distinct words × word length), not O(corpus tokens) —
    and weight each adjacent symbol pair by its word's frequency.
    Output: the top-20 merge candidates (deterministic ties by pair).

    Iterating = apply the winning merge to the symbol sequences and
    re-run; every iteration shuffles only the (pair, freq) partial
    aggregates. The word-frequency table is the classic sublinear
    trick — at 100 TB the distinct-word table is orders of magnitude
    smaller than the token stream (Zipf), and it is the ONLY thing
    the per-iteration loop touches.
    """
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    chars = words.select(
        "w", "freq", F.posexplode(F.split(F.col("w"), "")).alias("pos", "c")
    )
    win = W.partitionBy("w").orderBy("pos")
    pairs = chars.select(
        "freq",
        F.concat_ws(" ", F.col("c"), F.lead("c", 1).over(win)).alias("pair"),
        F.lead("c", 1).over(win).alias("_nxt"),
    ).filter(F.col("_nxt").isNotNull())
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


TEXT_BPE_MERGE_STEP_ORACLE = r"""
WITH words AS (
  SELECT u.t AS w, COUNT(*) AS freq FROM (
    SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents
  ), LATERAL (SELECT unnest(toks) AS t) u GROUP BY u.t
),
chars AS (
  SELECT w, freq, u.c, u.pos FROM words,
       LATERAL (SELECT unnest(string_split(w, '')) AS c,
                       generate_subscripts(string_split(w, ''), 1) AS pos) u
),
pairs AS (
  SELECT freq,
         c || ' ' || lead(c) OVER (PARTITION BY w ORDER BY pos) AS pair,
         lead(c) OVER (PARTITION BY w ORDER BY pos) AS nxt
  FROM chars
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
FROM pairs WHERE nxt IS NOT NULL
GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
"""


#: BM25 constants (the Robertson/Lucene defaults) and retrieval shape:
#: skip the 10 highest-df quasi-stopword terms, pair the next 10 into
#: 5 two-term disjunctive queries, return the top-10 docs per query.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_SKIP_TOP = 10
BM25_N_QUERY_TERMS = 10
BM25_TOP_DOCS = 10


def bm25_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, Column]:
    """The shared BM25 corpus statistics of ``text_bm25_topk`` and the
    lexical half of ``similarity.similarity_hybrid_rrf``: ONE tokenize
    scan of ``documents`` → the checkpointed (doc_id, token) TF frame.
    Returns ``(tf, df, n_docs, idf)``: ``df`` is (token, df) derived
    from tf, ``n_docs`` the corpus size, and ``idf`` the Lucene idf
    ``ln((N−df+0.5)/(df+0.5)+1)`` at 6 dp as a Column over a ``df``
    column, for the caller's query-term table.

    100 TB shape (r18): the tokenize scan feeds ONE partial-aggregated
    shuffle (tf keyed (doc, token)), and every consumer aggregates over
    that IDENTICAL checkpointed subtree. tf IS the distinct (doc,
    token) set with multiplicities, so every other statistic is an
    integer-identical derivation over it — df per token = COUNT(tf
    rows), dl per doc = Σ_token tf, Σdl = Σ tf — and no full-corpus
    DISTINCT exchange of token occurrences is ever planned. N is a
    metadata-cheap scalar aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.round(
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        ),
        6,
    )
    return tf, df_, n_docs, idf


def bm25_scores(tf: DataFrame, n_docs: int, qterms: DataFrame) -> DataFrame:
    """Score every doc holding a query term: ``qterms`` is (qid, token,
    idf) from the caller; returns (qid, doc_id, bm25, n_terms_hit).
    Classic BM25 (k1=1.2, b=0.75) per term, rounded at 6 dp; per-doc
    totals are EXACT DECIMAL(18,6) sums of the rounded per-term
    scores, so the summation order across query terms can never
    matter. The length normalization ``dl·N / Σdl`` is exact int64
    dl·N cast once and divided by Σdl — float(Σdl) as a literal and
    CAST(Σdl AS DOUBLE) as a column are the same double (counts ≪
    2^53) — so it is bit-identical cross-engine.

    Shape: tf is scanned twice (dl and Σdl); Σdl rides a 1-row
    broadcast column instead of a driver collect, and the query-term
    table is broadcast, so candidate scoring touches only the matching
    posting lists (the inverted-index retrieval pattern as joins).
    """
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    sum_dl_df = tf.agg(F.sum("tf").cast("double").alias("sum_dl"))
    norm_len = (F.col("dl") * F.lit(n_docs)).cast("double") / F.col(
        "sum_dl"
    )
    per_term = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(sum_dl_df))
        .select(
            "qid",
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf").cast("double") * (BM25_K1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + BM25_K1 * (F.lit(1.0 - BM25_B) + BM25_B * norm_len)
                ),
                6,
            ).alias("score"),
        )
    )
    return per_term.groupBy("qid", "doc_id").agg(
        F.round(
            F.sum(F.col("score").cast("decimal(18,6)")).cast("double"), 6
        ).alias("bm25"),
        F.count("*").alias("n_terms_hit"),
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval over the documents corpus — the
    inverted-index complement to the embedding similarity family (a
    RAG/data-curation pipeline retrieves lexically AND semantically;
    the repo had only the semantic half). Self-contained query
    workload, derived deterministically from the corpus itself: rank
    the vocabulary by document frequency (ties by token), skip the
    top BM25_SKIP_TOP quasi-stopwords, and pair the next
    BM25_N_QUERY_TERMS into 5 two-term disjunctive queries; score
    docs with ``bm25_scores`` and keep the top BM25_TOP_DOCS per
    query, ranking ties broken on ascending doc_id.

    The query-term table is a TakeOrdered head of ≤20 df rows, so the
    only corpus-scale work is ``bm25_index``'s one tokenize pass; the
    per-query top-k is a bounded window.
    """
    tf, df_, n_docs, idf = bm25_index(spark, sf_dir)
    # query terms: df ranks BM25_SKIP_TOP+1 .. +N_QUERY_TERMS, paired
    # in rank order into two-term queries (TakeOrdered head, tiny)
    head = (
        df_.orderBy(F.desc("df"), "token")
        .limit(BM25_SKIP_TOP + BM25_N_QUERY_TERMS)
        .withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("df"), "token"))
        )
        .filter(F.col("rk") > BM25_SKIP_TOP)
    )
    qterms = head.select(
        ((F.col("rk") - BM25_SKIP_TOP - 1) / 2).cast("int").alias("qid"),
        "token",
        "df",
        idf.alias("idf"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        bm25_scores(tf, n_docs, qterms)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_DOCS)
        .select("qid", "doc_id", "bm25", "n_terms_hit", "rank")
        .orderBy("qid", "rank")
    )


TEXT_BM25_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
scalars AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT SUM(dl) FROM dl) AS sum_dl
),
df AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
),
head AS (
  SELECT token, df,
         ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS rk
  FROM df
),
qterms AS (
  SELECT CAST(floor((rk - {BM25_SKIP_TOP} - 1) / 2.0) AS INT) AS qid,
         token, df,
         ROUND(ln(((SELECT n_docs FROM scalars) - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
  FROM head
  WHERE rk > {BM25_SKIP_TOP}
    AND rk <= {BM25_SKIP_TOP + BM25_N_QUERY_TERMS}
),
per_term AS (
  SELECT q.qid, tf.doc_id,
         ROUND(q.idf * (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {BM25_K1} * ({1.0 - BM25_B}
                                 + {BM25_B} * (CAST(dl.dl * (SELECT n_docs FROM scalars) AS DOUBLE)
                                               / CAST((SELECT sum_dl FROM scalars) AS DOUBLE)))),
               6) AS score
  FROM tf
  JOIN qterms q USING (token)
  JOIN dl USING (doc_id)
),
totals AS (
  SELECT qid, doc_id,
         ROUND(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE), 6) AS bm25,
         COUNT(*) AS n_terms_hit
  FROM per_term GROUP BY qid, doc_id
),
ranked AS (
  SELECT qid, doc_id, bm25, n_terms_hit,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM totals
)
SELECT qid, doc_id, bm25, n_terms_hit, rank
FROM ranked WHERE rank <= {BM25_TOP_DOCS}
ORDER BY qid, rank
"""


QUERIES = {
    "text_token_stats": text_token_stats,
    "text_quality_score": text_quality_score,
    "text_language_id": text_language_id,
    "text_token_count_bpe": text_token_count_bpe,
    "text_chunking": text_chunking,
    "text_fingerprint": text_fingerprint,
    "text_token_frequency": text_token_frequency,
    "text_tfidf": text_tfidf,
    "text_pii_scrub": text_pii_scrub,
    "text_gopher_rules": text_gopher_rules,
    "text_char_entropy": text_char_entropy,
    "text_source_stats": text_source_stats,
    "text_unigram_perplexity": text_unigram_perplexity,
    "text_heavy_hitters": text_heavy_hitters,
    "text_bpe_merge_step": text_bpe_merge_step,
    "text_bm25_topk": text_bm25_topk,
}

ORACLES = {
    "text_heavy_hitters": TEXT_HEAVY_HITTERS_ORACLE,
    "text_bpe_merge_step": TEXT_BPE_MERGE_STEP_ORACLE,
    "text_token_count_bpe": TEXT_TOKEN_COUNT_BPE_ORACLE,
    "text_chunking": TEXT_CHUNKING_ORACLE,
    "text_token_stats": TEXT_TOKEN_STATS_ORACLE,
    "text_quality_score": TEXT_QUALITY_ORACLE,
    "text_language_id": _langid_oracle(),
    "text_fingerprint": TEXT_FINGERPRINT_ORACLE,
    "text_token_frequency": TEXT_TOKEN_FREQUENCY_ORACLE,
    "text_tfidf": TEXT_TFIDF_ORACLE,
    "text_pii_scrub": _pii_oracle(),
    "text_gopher_rules": TEXT_GOPHER_RULES_ORACLE,
    "text_char_entropy": TEXT_CHAR_ENTROPY_ORACLE,
    "text_source_stats": TEXT_SOURCE_STATS_ORACLE,
    "text_unigram_perplexity": TEXT_UNIGRAM_PERPLEXITY_ORACLE,
    "text_bm25_topk": TEXT_BM25_ORACLE,
}
