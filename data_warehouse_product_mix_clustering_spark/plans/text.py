"""Text-analysis queries over the ``documents`` table (training-data surface).

Language-ID, quality scoring, token statistics, top-terms — all pure Spark
SQL expressions (functions/text.py), each with a mirrored DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round, sql_ratio_round
from data_warehouse_product_mix_clustering_spark.functions.text import (
    STOPWORDS,
    predicted_lang,
    sql_predicted_lang,
    bpe_tokens,
    sql_bpe_tokens,
    sql_fingerprint,
    sql_quality_score,
    sql_stopword_hits,
    sql_tokens,
    sql_word_ngrams,
    quality_score,
    stopword_hits,
    tokens,
)
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.sources.registry import table

_TOKS_CTE = f"""
WITH toks AS (
    SELECT doc_id, lang, source, n_chars, {sql_tokens("text")} AS t
    FROM documents
)
""".strip()


@register(
    "doc_token_stats",
    oracle=f"""
        {_TOKS_CTE}
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(t)) AS BIGINT) AS total_tokens,
               {sql_ratio_round("avg(len(t))")} AS avg_tokens,
               {sql_ratio_round("avg(n_chars)")} AS avg_chars
        FROM toks
        GROUP BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language (whitespace tokenizer, JVM-side).

    The tokenizer is `split + filter` — whole-stage-codegen'd, no Python;
    at 100 TB this is a single scan + tiny groupBy.
    """
    docs = table(spark, "documents", sf_dir)
    t = docs.select("lang", "n_chars", F.size(tokens(F.col("text"))).alias("__nt"))
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("long").alias("total_tokens"),
        ratio_round(F.avg("__nt")).alias("avg_tokens"),
        ratio_round(F.avg("n_chars")).alias("avg_chars"),
    )


@register(
    "doc_quality",
    oracle=f"""
        {_TOKS_CTE}
        , scored AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   {sql_ratio_round(f"CAST({sql_stopword_hits('t', STOPWORDS['en'])} AS DOUBLE) / len(t)")} AS stopword_ratio,
                   {sql_quality_score('t')} AS quality_score
            FROM toks
        )
        SELECT doc_id, n_tokens, stopword_ratio, quality_score,
               CASE WHEN quality_score >= 0.6 THEN 'high'
                    WHEN quality_score >= 0.45 THEN 'medium'
                    ELSE 'low' END AS quality_bucket
        FROM scored
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score: stopword ratio + length saturation.

    score = 0.5·(en-stopword ratio) + 0.5·min(tokens,50)/50; bucketed on the
    *rounded* score so the bucket boundary is cross-engine deterministic.
    """
    docs = table(spark, "documents", sf_dir)
    t = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    hits = stopword_hits(F.col("t"), STOPWORDS["en"]).cast("double")
    n = F.size("t")
    scored = t.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        ratio_round(hits / n).alias("stopword_ratio"),
        quality_score(F.col("t")).alias("quality_score"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "quality_score",
        F.when(F.col("quality_score") >= 0.6, "high")
        .when(F.col("quality_score") >= 0.45, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


@register(
    "doc_lang_id",
    oracle=f"""
        {_TOKS_CTE}
        SELECT doc_id, lang AS claimed_lang, {sql_predicted_lang("t")} AS predicted_lang
        FROM toks
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits.

    Deterministic tie-break (alphabetical lang order, 'und' when no hits).
    The reference has no lang-ID; this is training-data-pipeline surface.
    """
    docs = table(spark, "documents", sf_dir)
    t = docs.select("doc_id", F.col("lang").alias("claimed_lang"), tokens(F.col("text")).alias("t"))
    return t.select("doc_id", "claimed_lang", predicted_lang(F.col("t")).alias("predicted_lang"))


@register(
    "doc_top_terms",
    oracle=f"""
        {_TOKS_CTE}
        , counts AS (
            SELECT lang, unnest(t) AS term FROM toks
        ), agg AS (
            SELECT lang, term, CAST(count(*) AS BIGINT) AS n
            FROM counts GROUP BY lang, term
        )
        SELECT lang, term, n, CAST(rk AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rk
            FROM agg
        )
        WHERE rk <= 5
    """,
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language: explode + count + per-group top-k."""
    docs = table(spark, "documents", sf_dir)
    terms = docs.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
    agg = terms.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "term", "n", "rank")
    )


@register(
    "doc_fingerprints",
    oracle=f"""
        {_TOKS_CTE}
        , grams AS (
            SELECT doc_id, unnest(list_distinct({sql_word_ngrams("t", 3)})) AS g
            FROM toks
        )
        SELECT doc_id, min(md5(g)) AS min_fp, max(md5(g)) AS max_fp,
               CAST(count(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window document fingerprints (winnowing-style min-hash).

    md5 over sliding word 3-grams, keeping the min/max digest per doc —
    an engine-portable rolling-hash fingerprint (md5 is identical across
    engines, unlike murmur/xxhash). Matching min_fp across docs is the
    near-dup candidate signal at scale.
    """
    from data_warehouse_product_mix_clustering_spark.functions.text import word_ngrams

    docs = table(spark, "documents", sf_dir)
    grams = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams("t", 3))).alias("g"),
    )
    return grams.groupBy("doc_id").agg(
        F.min(F.md5(F.col("g").cast("binary"))).alias("min_fp"),
        F.max(F.md5(F.col("g").cast("binary"))).alias("max_fp"),
        F.count(F.lit(1)).alias("n_grams"),
    )


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@register(
    "doc_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM documents"""
        for c in _PROFILE_COLS
    ),
)
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling: null + distinct counts per column, ONE table pass.

    All measures compute in a single aggregate; stack() unpivots the one
    result row into (column_name, n_nulls, n_distinct) — the standard
    data-quality sweep a training pipeline runs before ingestion. At 100 TB
    swap count(DISTINCT) for approx_count_distinct (events_approx_stats
    shows the pattern).
    """
    docs = table(spark, "documents", sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"__n_{c}"))
        aggs.append(F.count_distinct(c).alias(f"__d_{c}"))
    one = docs.agg(*aggs)
    stack = ", ".join(f"'{c}', __n_{c}, __d_{c}" for c in _PROFILE_COLS)
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS (column_name, n_nulls, n_distinct)"
        )
    )


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
        {_TOKS_CTE}
        , tf AS (
            SELECT doc_id, unnest(t) AS term FROM toks
        ), tfc AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM tf GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tfc.doc_id, tfc.term,
                   round(tfc.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) + 1e-9, 6)
                       AS tfidf
            FROM tfc JOIN df ON tfc.term = df.term CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
            FROM scored
        )
        WHERE rk <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (training-data relevance scoring).

    tf × ln(N/df): term counts per doc, document frequency via a second
    agg on the same exploded pass, the 1-row corpus count broadcast. The
    df side is vocabulary-sized — it broadcasts; the big explode shuffles
    once on (doc, term).
    """
    docs = table(spark, "documents", sf_dir)
    terms = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tfc = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = terms.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tfc.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) + F.lit(1e-9), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


@register(
    "doc_bpe_tokens",
    oracle=f"""
        WITH counted AS (
            SELECT doc_id,
                   CAST(len({sql_tokens("text")}) AS BIGINT) AS ws_tokens,
                   CAST(len({sql_bpe_tokens("text")}) AS BIGINT) AS bpe_tokens,
                   n_chars
            FROM documents
        )
        SELECT doc_id, ws_tokens, bpe_tokens,
               {sql_ratio_round("n_chars / nullif(bpe_tokens, 0)")} AS chars_per_token
        FROM counted
    """,
)
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting: whitespace words vs a BPE-ish regex.

    The BPE-ish count (contractions + letter runs + 1-3-digit chunks +
    punctuation marks, functions/text.py:BPE_PATTERN) approximates the unit
    LLM data budgets are measured in; chars_per_token is the compression
    diagnostic. Pure regexp_extract_all — JVM-side, one scan, identical
    regex semantics in the DuckDB oracle.
    """
    docs = table(spark, "documents", sf_dir)
    counted = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(bpe_tokens(F.col("text"))).cast("long").alias("bpe_tokens"),
        "n_chars",
    )
    return counted.select(
        "doc_id",
        "ws_tokens",
        "bpe_tokens",
        ratio_round(
            F.col("n_chars") / F.nullif(F.col("bpe_tokens"), F.lit(0))
        ).alias("chars_per_token"),
    )


# The corpus-gate contract shared by training_corpus, the LM-filtered
# variants, and the waterfall — ONE definition (review r12 #4: the
# literals had grown to four Spark + four SQL copies, the exact drift
# class the round-8 quality-score consolidation removed; a change here
# reaches every gate and every oracle template together).
CORPUS_LANG = "en"
QUALITY_MIN = 0.45
TOKEN_BUDGET = (10, 5000)


@register(
    "training_corpus",
    oracle=f"""
        WITH keep AS (
            SELECT doc_id, lang, text,
                   row_number() OVER (PARTITION BY {sql_fingerprint("text")}
                                      ORDER BY doc_id) AS rn
            FROM documents
        ), toks AS (
            SELECT doc_id, lang, {sql_tokens("text")} AS t,
                   {sql_bpe_tokens("text")} AS bt
            FROM keep WHERE rn = 1
        ), scored AS (
            SELECT doc_id, lang,
                   CAST(len(bt) AS BIGINT) AS n_tokens,
                   {sql_quality_score('t')} AS quality_score
            FROM toks WHERE len(t) > 0
        )
        SELECT doc_id, lang, n_tokens, quality_score
        FROM scored
        WHERE lang = '{CORPUS_LANG}' AND quality_score >= {QUALITY_MIN}
          AND n_tokens BETWEEN {TOKEN_BUDGET[0]} AND {TOKEN_BUDGET[1]}
    """,
)
def training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline a training-data job actually ships: exact
    dedup (keep lowest doc_id per fingerprint) → language filter →
    quality gate (score ≥ 0.45) → token budget (10..5000 BPE-ish tokens).

    One fingerprint shuffle + one scan's worth of token expressions;
    every stage is an operator proven individually above, composed here
    (via the parameterized ``gated_corpus`` — ONE definition of the gate
    pipeline, shared with the recipe-manifest audit) and held to a
    single end-to-end oracle.
    """
    return gated_corpus(spark, sf_dir)


def gated_corpus(
    spark: SparkSession,
    sf_dir: str,
    lang: str = CORPUS_LANG,
    quality_min: float = QUALITY_MIN,
    tok_lo: int = TOKEN_BUDGET[0],
    tok_hi: int = TOKEN_BUDGET[1],
    keep_source: bool = False,
) -> DataFrame:
    """``training_corpus``'s gate pipeline with the recipe knobs as
    parameters — the registered query binds the module constants; the
    recipe-manifest audit (plans/pipeline) re-binds them from a
    persisted manifest to prove the recipe reproduces. One definition
    (the r12 gate-constant consolidation rule: a drifted copy of the
    gates is exactly the bug class this prevents). ``keep_source``
    carries the mixture key through the same plan for downstream
    resamplers (training_batches) — one extra projected column instead
    of a second documents scan + doc_id join; the registered query's
    output schema is unchanged at the default."""
    from data_warehouse_product_mix_clustering_spark.functions.text import bpe_tokens, fingerprint
    from pyspark.sql import Window

    extra = ["source"] if keep_source else []
    docs = table(spark, "documents", sf_dir)
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    kept = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "text", *extra)
    )
    t = kept.select(
        "doc_id",
        "lang",
        tokens(F.col("text")).alias("t"),
        bpe_tokens(F.col("text")).alias("bt"),
        *extra,
    ).filter(F.size("t") > 0)
    scored = t.select(
        "doc_id",
        "lang",
        F.size("bt").cast("long").alias("n_tokens"),
        quality_score(F.col("t")).alias("quality_score"),
        *extra,
    )
    return scored.filter(
        (F.col("lang") == lang)
        & (F.col("quality_score") >= quality_min)
        & F.col("n_tokens").between(tok_lo, tok_hi)
    )


_SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _split_oracle() -> str:
    from data_warehouse_product_mix_clustering_spark.operators.split import sql_split_column

    return f"""
        SELECT doc_id, {sql_split_column("doc_id", _SPLIT_FRACTIONS)} AS split
        FROM documents
    """


@register("doc_split", oracle=_split_oracle())
def doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-hash (90/5/5).

    Pure function of md5(doc_id): stable across engines, runs, partitions,
    and dataset growth (new docs never move old ones between splits) — the
    split mechanism a 100 TB corpus needs, zero shuffle, zero RNG state.
    """
    from data_warehouse_product_mix_clustering_spark.operators.split import hash_split

    docs = table(spark, "documents", sf_dir).select("doc_id")
    return hash_split(docs, "doc_id", _SPLIT_FRACTIONS)


_STRATA_FRACTIONS = {"en": 0.2, "de": 0.5, "fr": 0.5, "es": 0.5, "it": 0.5}


def _stratified_oracle() -> str:
    from data_warehouse_product_mix_clustering_spark.operators.split import split_boundaries

    whens = "\n".join(
        f"WHEN lang = '{lang}' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)"
        f" < '{split_boundaries({'keep': frac, 'drop': 1 - frac})[0][1]}' THEN TRUE"
        for lang, frac in _STRATA_FRACTIONS.items()
    )
    return f"""
        SELECT doc_id, lang
        FROM documents
        WHERE CASE {whens} ELSE FALSE END
    """


@register("doc_stratified_sample", oracle=_stratified_oracle())
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (corpus rebalancing).

    The language-rebalancing op of a corpus pipeline: each stratum keeps a
    different fraction, decided by the same content-hash threshold rule as
    ``doc_split`` — no RNG, stable under growth and re-partitioning,
    expressible identically in the oracle. Keeps 20% of the dominant
    language and 50% of the rest.
    """
    from data_warehouse_product_mix_clustering_spark.operators.split import split_boundaries

    docs = table(spark, "documents", sf_dir).select("doc_id", "lang")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6)
    keep = F.lit(False)
    for lang, frac in _STRATA_FRACTIONS.items():
        bound = split_boundaries({"keep": frac, "drop": 1 - frac})[0][1]
        keep = keep | ((F.col("lang") == lang) & (prefix < F.lit(bound)))
    return docs.filter(keep)


# --- PII redaction -----------------------------------------------------------
# Patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): character classes + bounded quantifiers only, no alternation, no
# backreferences, no lookaround (RE2 has none).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# The synthetic corpus carries no PII, so the query derives a deterministic
# contact header from the row itself (source + doc_id) and redacts THAT —
# both engines build the identical string, so the scrubber is exercised on
# real matches while inputs stay the driver's parquet tables.
_CONTACT_SQL = (
    "'reach ' || source || '.team@example.org or 10.' "
    "|| CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) "
    "|| ' :: ' || text"
)


@register(
    "doc_pii_redacted",
    oracle=f"""
        WITH lined AS (
            SELECT doc_id, {_CONTACT_SQL} AS contact FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(contact, '{_EMAIL_RE}', 0)) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(contact, '{_IP_RE}', 0)) AS BIGINT)
                   AS n_ips,
               md5(regexp_replace(regexp_replace(contact, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_IP_RE}', '<IP>', 'g')) AS redacted_hash,
               CAST(length(regexp_replace(regexp_replace(contact, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                          '{_IP_RE}', '<IP>', 'g')) AS BIGINT)
                   AS redacted_len
        FROM lined
    """,
)
def doc_pii_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-redact emails and IPv4s, count the hits.

    Training-corpus hygiene pass. Pure JVM `regexp_replace` /
    `regexp_extract_all` — one scan, no shuffle, whole-stage codegen; at
    100 TB this is embarrassingly parallel map work. The redacted text is
    emitted as an md5 so the oracle hash-compares full content without
    hauling wide strings through the result set.
    """
    docs = table(spark, "documents", sf_dir)
    contact = F.concat(
        F.lit("reach "), F.col("source"), F.lit(".team@example.org or 10."),
        (F.col("doc_id") % 200).cast("string"), F.lit(".0."),
        (F.col("doc_id") % 250).cast("string"), F.lit(" :: "), F.col("text"),
    )
    lined = docs.select("doc_id", contact.alias("contact"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("contact"), _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
    )
    return lined.select(
        "doc_id",
        F.size(F.regexp_extract_all("contact", F.lit(_EMAIL_RE), 0))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("contact", F.lit(_IP_RE), 0))
        .cast("long").alias("n_ips"),
        F.md5(redacted).alias("redacted_hash"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@register(
    "doc_repetition",
    oracle=f"""
        {_TOKS_CTE}
        , counts AS (
            SELECT doc_id, unnest(t) AS tok FROM toks
        ), agg AS (
            SELECT doc_id, tok, count(*) AS c FROM counts GROUP BY doc_id, tok
        ), stats AS (
            SELECT doc_id, tok, c,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, tok) AS rn,
                   sum(c) OVER (PARTITION BY doc_id) AS total,
                   count(*) OVER (PARTITION BY doc_id) AS n_distinct
            FROM agg
        )
        SELECT doc_id,
               CAST(total AS BIGINT) AS n_tokens,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               {sql_ratio_round("CAST(n_distinct AS DOUBLE) / total")} AS distinct_ratio,
               tok AS top_token,
               {sql_ratio_round("CAST(c AS DOUBLE) / total")} AS top_token_fraction,
               ({sql_ratio_round("CAST(c AS DOUBLE) / total")} >= 0.12) AS is_repetitive
        FROM stats WHERE rn = 1
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics: distinct-token ratio + top-token mass.

    Boilerplate/degenerate-text filter for a pretraining corpus: documents
    dominated by one token (or with a collapsed vocabulary) get flagged.
    One explode + one (doc, token) groupBy whose partial aggregation
    combines map-side, then per-doc windows — the window partitions by
    doc_id, so parallelism scales with the corpus, no global sort. The
    repetitive flag thresholds the ROUNDED fraction so the boundary is
    cross-engine deterministic.
    """
    docs = table(spark, "documents", sf_dir)
    tok_counts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("doc_id")
    ranked = tok_counts.select(
        "doc_id",
        "tok",
        "c",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("tok")))
        .alias("rn"),
        F.sum("c").over(w).alias("total"),
        F.count(F.lit(1)).over(w).alias("n_distinct"),
    )
    top_frac = ratio_round(F.col("c").cast("double") / F.col("total"))
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("total").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        ratio_round(F.col("n_distinct").cast("double") / F.col("total")).alias(
            "distinct_ratio"
        ),
        F.col("tok").alias("top_token"),
        top_frac.alias("top_token_fraction"),
        (top_frac >= 0.12).alias("is_repetitive"),
    )


@register(
    "corpus_shuffle",
    oracle="""
        WITH keyed AS (
            SELECT doc_id,
                   md5('shuffle:42:' || CAST(doc_id AS VARCHAR)) AS k
            FROM documents
        )
        SELECT doc_id,
               CAST(strpos('0123456789abcdef', substr(k, 1, 1)) - 1 AS BIGINT)
                   AS shard_id,
               CAST(row_number() OVER (
                   PARTITION BY substr(k, 1, 1) ORDER BY k, doc_id
               ) AS BIGINT) AS shard_pos
        FROM keyed
    """,
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle, shard-parallel.

    LLM training wants each epoch's read order decorrelated from ingest
    order. A single global ORDER BY md5 is a scale anti-pattern (one total
    sort); instead the hash key itself assigns a shard (first hex nibble)
    and position-within-shard comes from a per-shard window — 16-way (or
    256-way with two nibbles) parallel, no global sort, and the (shard_id,
    shard_pos) order is a fixed permutation of the corpus: same seed ⇒
    same order on any engine, any partitioning, any run.
    """
    docs = table(spark, "documents", sf_dir)
    k = F.md5(F.concat(F.lit("shuffle:42:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", k.alias("k"))
    nib = F.substring("k", 1, 1)
    return keyed.select(
        "doc_id",
        (F.expr("instr('0123456789abcdef', substring(k, 1, 1))") - 1)
        .cast("long")
        .alias("shard_id"),
        F.row_number()
        .over(Window.partitionBy(nib).orderBy("k", "doc_id"))
        .cast("long")
        .alias("shard_pos"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (round-7 second session): the lexical half of a
# hybrid search stack (the ANN family in operators/similarity.py is the
# other). Fixed query terms, two common + one rare, so idf does real work.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("merge", "join", "dup")
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_scored_cte(
    terms: tuple[str, ...] = _BM25_TERMS, prefix: str = ""
) -> str:
    """The CTE chain defining ``{prefix}scored(doc_id, bm25)`` — shared
    by the ``doc_bm25_search`` oracle, the hybrid-RRF oracle
    (plans/similarity.py), and (prefixed, once per query) the batch
    oracle, so the scoring formula exists once per engine."""
    p = prefix
    return f"""{p}toks AS (
            SELECT doc_id, {sql_tokens("text")} AS t FROM documents
        ), {p}stats AS (
            SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM {p}toks
        ), {p}tf AS (
            SELECT doc_id, len(t) AS dl, u.term, CAST(count(*) AS BIGINT) AS tf
            FROM {p}toks, unnest(t) AS u(term)
            WHERE u.term IN {str(terms)}
            GROUP BY 1, 2, 3
        ), {p}df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM {p}tf GROUP BY 1
        ), {p}scored AS (
            SELECT {p}tf.doc_id,
                   round(sum(
                       ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * ({_BM25_K1} + 1))
                       / (tf + {_BM25_K1} * (1 - {_BM25_B}
                          + {_BM25_B} * dl / avgdl))
                   ) + 1e-9, 6) AS bm25
            FROM {p}tf JOIN {p}df USING (term) CROSS JOIN {p}stats
            GROUP BY 1
        )"""


def bm25_scores_df(
    docs: DataFrame,
    terms: tuple[str, ...] = _BM25_TERMS,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
) -> DataFrame:
    """(doc_id, bm25) over any (doc_id, text) DataFrame — the Spark twin
    of ``bm25_scored_cte``; ``doc_bm25_search``, the hybrid-RRF fusion,
    and the property test (random corpora vs a pure-python reference)
    all consume it."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("t")).alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.size("t").alias("dl"), F.explode("t").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score) + F.lit(1e-9), 6).alias("bm25"))
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-query scorer over the ``documents`` table."""
    return bm25_scores_df(table(spark, "documents", sf_dir))


@register(
    "doc_bm25_search",
    oracle=f"""
        WITH {bm25_scored_cte()}
        SELECT doc_id, bm25,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
                   AS rank
        FROM scored
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed 3-term query (k1=1.2, b=0.75, Lucene idf).

    The plan a search engine's scatter-gather maps to: the term filter
    lands INSIDE the explode (only query-term postings survive — at scale
    an inverted index makes this a seek, here it is a pushdown into one
    corpus pass), per-(doc, term) tf aggregates once, the vocabulary-sized
    df and the 1-row (N, avgdl) stats broadcast back, and the final top-20
    is a partial top-k. Cross-engine float discipline: identical literal
    expression shape on both engines, nudged rounding BEFORE ranking, and
    doc_id tie-breaks — so rank boundaries cannot flip.
    """
    scored = bm25_scores(spark, sf_dir)
    # Top-20 FIRST (TakeOrderedAndProject — partial top-k, no global
    # sort), then rank the 20 survivors: the single-partition rank window
    # only ever sees 20 rows, not every document containing a query term.
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "bm25", "rank"
    )


@register(
    "doc_bm25_snippets",
    oracle=f"""
        WITH {bm25_scored_cte()},
        top AS (
            SELECT doc_id, bm25, rk AS rank FROM (
                SELECT doc_id, bm25, row_number() OVER (
                    ORDER BY bm25 DESC, doc_id) AS rk
                FROM scored
            ) WHERE rk <= 10
        ),
        tok2 AS (
            SELECT doc_id, {sql_tokens("text")} AS t FROM documents
        ),
        pos AS (
            SELECT top.doc_id, bm25, rank, t,
                   CAST(least(
                       coalesce(nullif(list_position(t, 'merge'), 0), 1000000000),
                       coalesce(nullif(list_position(t, 'join'), 0), 1000000000),
                       coalesce(nullif(list_position(t, 'dup'), 0), 1000000000)
                   ) AS BIGINT) AS p
            FROM top JOIN tok2 ON top.doc_id = tok2.doc_id
        )
        SELECT doc_id, bm25, CAST(rank AS BIGINT) AS rank,
               array_to_string(
                   list_slice(t, greatest(p - 5, 1), greatest(p - 5, 1) + 10),
                   ' ') AS snippet
        FROM pos
    """,
)
def doc_bm25_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippets: the BM25 top-10 with an 11-token window
    centered on the first occurrence of any query term — result
    highlighting as pure JVM array expressions (array_position / slice /
    array_join), zero Python, zero extra shuffles beyond the top-k.

    Every top-10 doc contains ≥ 1 query term by construction (bm25 > 0),
    so the first-match position always exists. The window is 11 tokens
    FROM the clamped start (greatest(p−5, 1)) — anchoring the end to the
    clamped start, not to p, keeps the two engines' slice semantics
    (length vs end-index) aligned; both clamp the tail at the document
    end.
    """
    scored = bm25_scores(spark, sf_dir)
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(10)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    ranked = top.withColumn("rank", F.row_number().over(w).cast("long"))

    docs = table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("__did"), tokens(F.col("text")).alias("t")
    )
    big = F.lit(1000000000).cast("long")
    pos = F.least(
        *[
            F.coalesce(
                F.nullif(F.array_position(F.col("t"), term), F.lit(0)), big
            )
            for term in _BM25_TERMS
        ]
    ).cast("long")
    start = F.greatest(pos - 5, F.lit(1).cast("long"))
    return (
        ranked.join(docs, ranked.doc_id == F.col("__did"))
        .select(
            "doc_id",
            "bm25",
            "rank",
            F.array_join(
                F.slice(F.col("t"), start.cast("int"), F.lit(11)), " "
            ).alias("snippet"),
        )
    )


# ---------------------------------------------------------------------------
# Materialized inverted index (round 8): the persisted seek-at-scale path
# the ad-hoc BM25 docstring promises. operators/postings.py holds the
# build + search; the registered query proves indexed retrieval is
# value-identical to the one-pass scorer by sharing its oracle.
# ---------------------------------------------------------------------------

def _remove_index(index_dir: str) -> None:
    # Each postings entry OWNS an on-disk index: dropping the entry must
    # reclaim the directory or it strands a corpus-sized index under /tmp.
    shutil.rmtree(index_dir, ignore_errors=True)


def _postings_index_for(spark: SparkSession, sf_dir: str) -> str:
    """The session's postings index over ``sf_dir``'s documents, built on
    first use and held in the session store (so rewriting the documents
    file and invalidating it rebuilds the index)."""
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.postings import (
        build_postings_index,
        index_is_committed,
    )

    docs_path = os.path.join(sf_dir, "documents.parquet")

    def build() -> str:
        index_dir = tempfile.mkdtemp(prefix="spark_graft_postings_")
        docs = table(spark, "documents", sf_dir).select("doc_id", "text")
        build_postings_index(docs, index_dir, tokens(F.col("text")))
        return index_dir

    def lookup() -> str:
        return state.cached(spark, "postings", docs_path, (), build, release=_remove_index)

    index_dir = lookup()
    # The commit marker (not just stats/ existing) decides freshness: a
    # torn build/update or an external cleanup leaves the marker absent,
    # forcing a rebuild instead of serving mutually inconsistent
    # relations (ADVICE r8).
    if not index_is_committed(index_dir):
        state.invalidate(docs_path, kind="postings")
        index_dir = lookup()
    return index_dir


@register(
    "doc_bm25_indexed_search",
    oracle=f"""
        WITH {bm25_scored_cte()}
        SELECT doc_id, bm25,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
                   AS rank
        FROM scored
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """,
)
def doc_bm25_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 served from the MATERIALIZED term-bucketed postings
    index (operators/postings.py) — the persisted inverted-index twin of
    ``doc_bm25_search``, sharing its oracle verbatim: same query, same
    scores, same ranks, but the retrieval reads only the query terms'
    bucket partitions (PartitionFilters-pinned in test_plans.py) instead
    of re-tokenizing the corpus, in one exact scoring job.

    The index builds once per (session, corpus) — the search-service
    shape, where build cost amortizes over every query — and the seek
    itself is O(query-term postings) bytes at any corpus size.
    """
    from data_warehouse_product_mix_clustering_spark.operators.postings import search_postings_index

    idx = _postings_index_for(spark, sf_dir)
    top = search_postings_index(
        spark, idx, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, top_k=20
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "bm25", "rank"
    )


@register(
    "postings_incremental_audit",
    oracle="""
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM documents
              WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0) AS n_added,
            (SELECT CAST(count(*) AS BIGINT) FROM documents
              WHERE doc_id % 7 <> 0 AND doc_id % 13 = 0) AS n_removed,
            (SELECT CAST(count(*) AS BIGINT) FROM documents
              WHERE doc_id % 7 <> 0 AND doc_id % 13 <> 0
                AND doc_id % 11 = 0) AS n_changed,
            TRUE AS postings_match,
            TRUE AS terms_match,
            TRUE AS stats_match,
            TRUE AS search_match
    """,
)
def postings_incremental_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit: CDC-maintained postings index ≡ full rebuild.

    Composes three engine pieces end-to-end — the versioned table sink
    (two corpus versions), its null-safe CDC diff, and
    ``operators/postings.py::update_postings_index`` — on a scenario the
    oracle can predict from the raw ``documents`` table alone:

    - base corpus: docs with doc_id%7≠0; next version: docs with
      doc_id%13≠0, text amended (a query term appended) for %11=0 — so
      the diff contains adds, removes, AND in-place changes, and the
      changed text moves real postings (including into the searched
      terms' buckets);
    - the maintained index must equal a from-scratch rebuild of the new
      corpus RELATION-FOR-RELATION: postings (exceptAll both ways empty),
      per-term df table, the algebraically-maintained stats row (n_docs /
      total_dl exact, avgdl to 1e-9), and the BM25 top-20 served from it.

    A maintenance bug — missed bucket, stale tombstone, double-applied
    change, drifted stats — flips a boolean or a count and hash-fails the
    driver row.
    """
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.postings import (
        build_postings_index,
        read_postings,
        search_postings_index,
        update_postings_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 7 != 0)
    nxt = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" merge merge"))
        ).otherwise(F.col("text")),
    )
    root = tempfile.mkdtemp(prefix="spark_graft_postings_audit_")
    try:
        tdir = os.path.join(root, "corpus")
        write_version(base, tdir)
        write_version(nxt, tdir)
        diff = version_diff(spark, tdir, 0, 1, key=["doc_id"])

        maintained = os.path.join(root, "maintained")
        rebuilt = os.path.join(root, "rebuilt")
        build_postings_index(base, maintained, tokens(F.col("text")))
        stats = update_postings_index(
            spark, maintained, diff, lambda c: tokens(c)
        )
        build_postings_index(nxt, rebuilt, tokens(F.col("text")))

        def relation_equal(a: DataFrame, b: DataFrame) -> bool:
            return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

        postings_match = relation_equal(
            read_postings(spark, maintained), read_postings(spark, rebuilt)
        )
        terms_match = relation_equal(
            spark.read.parquet(os.path.join(maintained, "terms")),
            spark.read.parquet(os.path.join(rebuilt, "terms")),
        )
        sm = spark.read.parquet(os.path.join(maintained, "stats")).first()
        sr = spark.read.parquet(os.path.join(rebuilt, "stats")).first()
        stats_match = (
            sm["n_docs"] == sr["n_docs"]
            and sm["total_dl"] == sr["total_dl"]
            and abs(sm["avgdl"] - sr["avgdl"]) < 1e-9
        )
        hits_m = search_postings_index(spark, maintained, _BM25_TERMS).collect()
        hits_r = search_postings_index(spark, rebuilt, _BM25_TERMS).collect()
        search_match = [(r.doc_id, r.bm25) for r in hits_m] == [
            (r.doc_id, r.bm25) for r in hits_r
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                stats["added"],
                stats["removed"],
                stats["changed"],
                postings_match,
                terms_match,
                stats_match,
                search_match,
            )
        ],
        "n_added long, n_removed long, n_changed long, postings_match boolean, "
        "terms_match boolean, stats_match boolean, search_match boolean",
    )


_BM25_BATCH_QUERIES: dict[str, tuple[str, ...]] = {
    "q_merge": _BM25_TERMS,  # two common + one rare — the existing query
    "q_scan": ("scan", "sort", "key"),  # three common terms
    "q_vector": ("vector", "hash", "stream"),
}


def _bm25_batch_oracle() -> str:
    prefixes = {qid: f"{qid[2:]}_" for qid in _BM25_BATCH_QUERIES}
    ctes = ", ".join(
        bm25_scored_cte(terms, prefixes[qid])
        for qid, terms in _BM25_BATCH_QUERIES.items()
    )
    union = " UNION ALL ".join(
        f"SELECT '{qid}' AS qid, doc_id, bm25 FROM {prefixes[qid]}scored"
        for qid in _BM25_BATCH_QUERIES
    )
    return f"""
        WITH {ctes}, unioned AS ({union}), ranked AS (
            SELECT qid, doc_id, bm25,
                   CAST(row_number() OVER (
                       PARTITION BY qid ORDER BY bm25 DESC, doc_id
                   ) AS BIGINT) AS rank
            FROM unioned
        )
        SELECT qid, doc_id, bm25, rank FROM ranked WHERE rank <= 10
        ORDER BY qid, rank
    """


@register("doc_bm25_batch_search", oracle=_bm25_batch_oracle())
def doc_bm25_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 for THREE queries served in ONE pass over the
    materialized postings index (operators/postings.py::
    search_postings_index_batch) — the search-service scatter-gather
    shape: a (qid, term) map broadcasts onto a single bucket-pruned
    postings scan covering the union of all queries' buckets, per-
    (qid, doc) scores aggregate with the exact single-query expression,
    and each query's top-10 is a rank-filtered window partitioned by
    qid (WindowGroupLimit — the k-cut runs below the shuffle, no global
    sort). Value-identical to three independent ``doc_bm25_search``-
    style runs; the oracle replays each query's full scoring chain
    independently and unions, so any cross-query contamination in the
    shared pass (df bleeding between queries, a qid fan-out bug)
    hash-fails the row.

    Scale: |queries| grows the broadcast map and the final window's
    key-space, NOT the number of index reads — one scan of
    O(Σ query-term postings) bytes for the whole batch."""
    from data_warehouse_product_mix_clustering_spark.operators.postings import search_postings_index_batch

    idx = _postings_index_for(spark, sf_dir)
    return search_postings_index_batch(
        spark, idx, _BM25_BATCH_QUERIES, k1=_BM25_K1, b=_BM25_B, top_k=10
    )


_PHRASE = ("merge", "join")


@register(
    "doc_phrase_search",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {sql_tokens("text")} AS t FROM documents
        ), hits AS (
            SELECT doc_id,
                   CAST(len(list_filter(t, (x, i) ->
                       x = '{_PHRASE[0]}' AND i < len(t)
                       AND t[i + 1] = '{_PHRASE[1]}'
                   )) AS BIGINT) AS n_occurrences
            FROM toks
        )
        SELECT doc_id, n_occurrences FROM hits WHERE n_occurrences > 0
        ORDER BY n_occurrences DESC, doc_id
    """,
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase match ("{merge join}") served from the positional
    index (operators/postings.py::search_phrase): per document, the
    number of positions where the phrase's terms occur consecutively —
    the positional-index intersection every search engine pairs with
    BM25, as set operations (bucket-pruned per-term position reads,
    doc_id inner joins, a JVM array-lambda consecutive-position count;
    no text re-scan, no regex, no Python).

    The oracle recomputes the count from the raw text with an indexed
    DuckDB list lambda — a genuinely different algorithm (token-stream
    walk vs position-set intersection), so agreement pins both the
    positions/ relation's content and the intersection logic.

    Scale: O(Σ phrase-term positions) bytes read at any corpus size;
    the ad-hoc equivalent re-tokenizes the corpus per query."""
    from data_warehouse_product_mix_clustering_spark.operators.postings import search_phrase

    idx = _postings_index_for(spark, sf_dir)
    return search_phrase(spark, idx, _PHRASE).orderBy(
        F.col("n_occurrences").desc(), "doc_id"
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py)
# ---------------------------------------------------------------------------

_BPE_N_MERGES = 20
_BPE_AUDIT_VOCAB_CAP = 2000

def corpus_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = _BPE_N_MERGES
) -> list:
    """The trained merge table for ``sf_dir``'s documents, memoized per
    (session, corpus, n_merges) — the ``product_clusters`` fit-cache
    parity. Training is the expensive iterative stage (20 merge rounds ≈
    32 s at sf0.1), the result is O(n_merges) driver state, and every
    consumer — the merge table query, tokenizer-true context windows,
    their audit — needs the SAME table, so a pipeline trains once per
    (session, corpus). Safe because train_bpe is deterministic on fixed
    input; ``bpe_train_audit`` and the property tests call train_bpe
    DIRECTLY (never this memo), so the training-rule contracts stay real
    training runs."""
    from data_warehouse_product_mix_clustering_spark.operators.bpe import train_bpe, word_counts

    return state.cached(
        spark,
        "merges",
        os.path.join(sf_dir, "documents.parquet"),
        n_merges,
        lambda: train_bpe(word_counts(table(spark, "documents", sf_dir)), n_merges),
    )


@register("bpe_merge_table")
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table over the FULL corpus vocabulary —
    tokenizer training as a warehouse job (operators/bpe.py): one corpus
    pass builds the distinct word-frequency relation, then each of the
    20 merges is a weighted pair aggregate over that relation plus a
    1-row argmax collect (the model itself is O(n_merges) driver state
    by construction). Session-memoized via ``corpus_bpe_merges`` (the
    product_clusters fit-cache parity — every tokenizer consumer reads
    the same trained table). Rows-only: the iterative argmax is not
    SQL-expressible; the training rule is pinned cross-implementation by
    ``bpe_train_audit`` (Spark ≡ reference twin on a capped vocab,
    bypassing the cache) and property-tested on random corpora vs the
    same twin."""
    from data_warehouse_product_mix_clustering_spark.operators.bpe import merges_to_df

    return merges_to_df(spark, corpus_bpe_merges(spark, sf_dir))


@register(
    "bpe_train_audit",
    oracle=f"""
        SELECT CAST({_BPE_N_MERGES} AS BIGINT) AS n_merges,
               TRUE AS merges_match_reference,
               TRUE AS counts_positive
    """,
)
def bpe_train_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for ``train_bpe``: on the top-{cap} vocabulary of
    ``documents`` (count-desc, word-asc tie-break — capped so the
    reference twin's input is a bounded, documented collect, the same
    ≤cap discipline as the NumPy KMeans path), the distributed trainer's
    merge table must equal ``train_bpe_py``'s EXACTLY — sequence, pair
    spellings, and weighted counts — across all 20 merges. UTF-8 binary
    ordering (Spark's string sort) and code-point ordering (the twin's
    tuple min) agree for all of Unicode, so the tie-break is
    engine-portable. Plus: every winning pair count positive."""
    from data_warehouse_product_mix_clustering_spark.operators.bpe import (
        train_bpe,
        train_bpe_py,
        word_counts,
    )

    wc = word_counts(table(spark, "documents", sf_dir))
    capped = wc.orderBy(F.col("count").desc(), "word").limit(_BPE_AUDIT_VOCAB_CAP)
    rows = capped.collect()  # ≤ cap rows — bounded by construction
    got = train_bpe(
        spark.createDataFrame(rows, "word string, count long"), _BPE_N_MERGES
    )
    want = train_bpe_py({r["word"]: r["count"] for r in rows}, _BPE_N_MERGES)
    return spark.createDataFrame(
        [(len(got), got == want, all(c > 0 for _, _, c in got))],
        "n_merges long, merges_match_reference boolean, counts_positive boolean",
    )


@register(
    "bpe_encode_audit",
    oracle=f"""
        SELECT CAST({_BPE_N_MERGES} AS BIGINT) AS n_merges,
               TRUE AS encodings_match_reference,
               TRUE AS lossless_all,
               TRUE AS any_compressed
    """,
)
def bpe_encode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for the tokenizer's apply half
    (operators/bpe.py::encode_words): train 20 merges on the capped
    ``documents`` vocabulary, encode that same vocabulary distributed,
    and pin (a) every word's segmentation equals ``encode_py``'s —
    sequential rank-order greedy, the rule stated once on the operator;
    (b) losslessness, the invariant that survives any merge table:
    concat(bpe_syms) == word for EVERY row (checked distributed, no
    collect of the encodings... the reference comparison collects the
    ≤cap relation once, same bound as bpe_train_audit); (c) at least one
    word actually compressed — merge #1 was mined from this exact vocab,
    so its pair must occur here (a zero-compression table means apply
    and train disagree about adjacency)."""
    from data_warehouse_product_mix_clustering_spark.operators.bpe import (
        encode_py,
        encode_words,
        train_bpe,
        word_counts,
    )

    wc = word_counts(table(spark, "documents", sf_dir))
    capped = wc.orderBy(F.col("count").desc(), "word").limit(_BPE_AUDIT_VOCAB_CAP)
    words = spark.createDataFrame(
        capped.collect(), "word string, count long"
    ).localCheckpoint(eager=True)
    merges = train_bpe(words, _BPE_N_MERGES)
    enc = encode_words(words, merges)
    lossless_all = (
        enc.filter(F.concat_ws("", F.col("bpe_syms")) != F.col("word")).count() == 0
    )
    any_compressed = (
        enc.filter(F.size("bpe_syms") < F.length("word")).count() > 0
    )
    got = {r["word"]: list(r["bpe_syms"]) for r in enc.collect()}
    match = all(
        got[w] == encode_py(w, merges) for w in got
    ) and len(got) == words.count()
    return spark.createDataFrame(
        [(len(merges), match, lossless_all, any_compressed)],
        "n_merges long, encodings_match_reference boolean, "
        "lossless_all boolean, any_compressed boolean",
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity proxy (operators/lm.py) — registered r11 per the
# pre-staged rotation; the oracle is the operator-adjacent twin so the two
# cannot drift.
# ---------------------------------------------------------------------------


def _unigram_oracle() -> str:
    from data_warehouse_product_mix_clustering_spark.operators.lm import SQL_UNIGRAM_SELF_SCORE

    return SQL_UNIGRAM_SELF_SCORE.format(
        tokens=sql_tokens("text"),
        a=0.5,
        round_avg=sql_ratio_round("-avg(logp)"),
    )


@register("doc_unigram_logprob", oracle=_unigram_oracle())
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity proxy under a self-fit unigram LM
    (operators/lm.py::unigram_logprob_scores): bits_per_token =
    -(1/n)·Σ log2 p(wᵢ), the CCNet-style quality filter with the KenLM
    5-gram honestly downgraded to the unigram this image can express.
    ONE corpus pass builds the smoothed (word, logp) relation ((N, V)
    scalars ride a broadcast 1-row cross join, never collected); scoring
    is an explode + word-key join + per-doc average — two shuffles on
    the word key and one on doc_id at any corpus size, zero Python."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import unigram_logprob_scores

    return unigram_logprob_scores(table(spark, "documents", sf_dir))


def _bigram_oracle() -> str:
    from data_warehouse_product_mix_clustering_spark.operators.lm import SQL_BIGRAM_SELF_SCORE

    return SQL_BIGRAM_SELF_SCORE.format(
        tokens=sql_tokens("text"),
        a=0.5,
        round_avg=sql_ratio_round("-avg(logp)"),
    )


@register("doc_bigram_logprob", oracle=_bigram_oracle())
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity proxy under a self-fit CONDITIONAL bigram
    LM (operators/lm.py::bigram_logprob_scores, registered r12 per the
    pre-staged rotation): bits_per_token = -(1/(n-1))·Σ log2 p(wᵢ|wᵢ₋₁),
    one rung up the CCNet ladder from ``doc_unigram_logprob`` — context
    sensitivity separates shuffled-word gibberish the unigram scores as
    fluent. Transitions are built per row with a JVM transform (zero
    joins in extraction); the LM is one shuffle on the pair key plus two
    broadcast scalars; scoring joins the pair relation back and averages
    per doc. Docs with < 2 tokens are absent (nothing to score)."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import bigram_logprob_scores

    return bigram_logprob_scores(table(spark, "documents", sf_dir))


def _lang_unigram_oracle() -> str:
    from data_warehouse_product_mix_clustering_spark.operators.lm import SQL_LANG_UNIGRAM_SELF_SCORE

    return SQL_LANG_UNIGRAM_SELF_SCORE.format(
        tokens=sql_tokens("text"),
        a=0.5,
        round_avg=sql_ratio_round("-avg(logp)"),
    )


@register("doc_lang_logprob", oracle=_lang_unigram_oracle())
def doc_lang_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity proxy under the doc's OWN language's LM
    (operators/lm.py::lang_logprob_scores — the actual CCNet shape,
    VERDICT r11 #5): one unigram LM per ``lang`` partition, each doc
    scored against its language's model, so each language's perplexity
    distribution can be gated independently instead of minority
    languages reading as globally-rare-vocabulary noise. Same plan as
    ``doc_unigram_logprob`` with lang as one extra group key; the
    per-lang (N_l, V_l) scalars ride a broadcast equi-join on lang.
    Registered r13 with ``_lang_unigram_oracle``."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import lang_logprob_scores

    return lang_logprob_scores(table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# CCNet-style LM-filtered corpus (pre-staged r11, registered r12).
# The oracle string lives adjacent so the two cannot drift — the same
# discipline as operators/lm.py's twins.
# ---------------------------------------------------------------------------

TRAINING_CORPUS_LM_ORACLE_TEMPLATE = """
    WITH keep AS (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY {fingerprint}
                                  ORDER BY doc_id) AS rn
        FROM documents
    ), toks0 AS (
        SELECT doc_id, lang, {tokens} AS t, {bpe} AS bt
        FROM keep WHERE rn = 1
    ), corpus AS (
        SELECT doc_id, lang,
               CAST(len(bt) AS BIGINT) AS n_tokens,
               {quality} AS quality_score
        FROM toks0 WHERE len(t) > 0
    ), surviving AS (
        SELECT doc_id, lang, n_tokens, quality_score
        FROM corpus
        WHERE lang = '{lang}' AND quality_score >= {quality_min}
          AND n_tokens BETWEEN {tok_lo} AND {tok_hi}
    ), alltoks AS (
        SELECT doc_id, {tokens} AS t FROM documents
    ), tok AS (
        SELECT doc_id, unnest(t) AS word FROM alltoks
    ), counts AS (
        SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
    ), totals AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
        FROM counts
    ), lm AS (
        SELECT word, log2((c + {a}) / (n + {a} * v)) AS logp
        FROM counts, totals
    ), scores AS (
        SELECT doc_id, {round_avg} AS bits_per_token
        FROM tok JOIN lm USING (word)
        GROUP BY doc_id
    ), ranked AS (
        SELECT s.doc_id, s.lang, s.n_tokens, s.quality_score,
               sc.bits_per_token,
               percent_rank() OVER (ORDER BY sc.bits_per_token) AS pr
        FROM surviving s JOIN scores sc USING (doc_id)
    )
    SELECT doc_id, lang, n_tokens, quality_score, bits_per_token
    FROM ranked WHERE pr <= {keep_frac}
"""

_LM_KEEP_FRAC = 0.7  # CCNet keeps head+middle; tail (highest bits) drops


def training_corpus_lm_oracle() -> str:
    """The composed DuckDB oracle for ``training_corpus_lm_filtered``."""
    from data_warehouse_product_mix_clustering_spark.functions.text import sql_fingerprint

    return TRAINING_CORPUS_LM_ORACLE_TEMPLATE.format(
        fingerprint=sql_fingerprint("text"),
        tokens=sql_tokens("text"),
        bpe=sql_bpe_tokens("text"),
        quality=sql_quality_score("t"),
        a=0.5,
        round_avg=sql_ratio_round("-avg(logp)"),
        keep_frac=_LM_KEEP_FRAC,
        lang=CORPUS_LANG,
        quality_min=QUALITY_MIN,
        tok_lo=TOKEN_BUDGET[0],
        tok_hi=TOKEN_BUDGET[1],
    )


@register("training_corpus_lm_filtered", oracle=training_corpus_lm_oracle())
def training_corpus_lm_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``training_corpus`` with the CCNet perplexity step composed on
    top: every surviving doc is scored by the corpus-self-fit unigram LM
    (``operators/lm.py`` — the LM fits on the FULL corpus, the CCNet
    reference-LM shape) and only the head+middle of the
    bits-per-token distribution survives (percent_rank ≤ 0.7 ascending —
    the highest-perplexity tail drops). percent_rank is rank-arithmetic
    (exact rationals, tie-stable), so the gate is cross-engine
    deterministic without interpolated-percentile FP hazards. Scale
    note: the global rank is one single-partition window over the
    SURVIVORS' narrow (doc_id, bits) relation — the Pareto/Gini bounded
    class; at 100 TB the threshold would come from one
    ``percentile_approx`` sketch agg broadcast back as a scalar, which
    trades oracle exactness for no global sort. Registered r12 with
    ``training_corpus_lm_oracle``.
    """
    from pyspark.sql import Window

    from data_warehouse_product_mix_clustering_spark.operators.lm import unigram_logprob_scores

    surviving = training_corpus(spark, sf_dir)
    scores = unigram_logprob_scores(table(spark, "documents", sf_dir)).select(
        "doc_id", "bits_per_token"
    )
    ranked = surviving.join(scores, "doc_id").withColumn(
        "__pr", F.percent_rank().over(Window.orderBy("bits_per_token"))
    )
    return ranked.filter(F.col("__pr") <= _LM_KEEP_FRAC).select(
        "doc_id", "lang", "n_tokens", "quality_score", "bits_per_token"
    )


# Per-language CCNet gate (pre-staged r13; the oracle template lives
# adjacent, same discipline as the corpus-wide filter above).
TRAINING_CORPUS_LM_BY_LANG_ORACLE_TEMPLATE = """
    WITH keep AS (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY {fingerprint}
                                  ORDER BY doc_id) AS rn
        FROM documents
    ), toks0 AS (
        SELECT doc_id, lang, {tokens} AS t, {bpe} AS bt
        FROM keep WHERE rn = 1
    ), corpus AS (
        SELECT doc_id, lang,
               CAST(len(bt) AS BIGINT) AS n_tokens,
               {quality} AS quality_score
        FROM toks0 WHERE len(t) > 0
    ), surviving AS (
        SELECT doc_id, lang, n_tokens, quality_score
        FROM corpus
        WHERE quality_score >= {quality_min}
          AND n_tokens BETWEEN {tok_lo} AND {tok_hi}
    ), alltoks AS (
        SELECT doc_id, lang, {tokens} AS t FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(t) AS word FROM alltoks
    ), counts AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ), totals AS (
        SELECT lang, CAST(sum(c) AS DOUBLE) AS n,
               CAST(count(*) AS DOUBLE) AS v
        FROM counts GROUP BY 1
    ), lm AS (
        SELECT lang, word, log2((c + {a}) / (n + {a} * v)) AS logp
        FROM counts JOIN totals USING (lang)
    ), scores AS (
        SELECT doc_id, {round_avg} AS bits_per_token
        FROM tok JOIN lm USING (lang, word)
        GROUP BY doc_id
    ), ranked AS (
        SELECT s.doc_id, s.lang, s.n_tokens, s.quality_score,
               sc.bits_per_token,
               percent_rank() OVER (PARTITION BY s.lang
                                    ORDER BY sc.bits_per_token) AS pr
        FROM surviving s JOIN scores sc USING (doc_id)
    )
    SELECT doc_id, lang, n_tokens, quality_score, bits_per_token
    FROM ranked WHERE pr <= {keep_frac}
"""


def training_corpus_lm_by_lang_oracle() -> str:
    """The composed DuckDB oracle for ``training_corpus_lm_by_lang``."""
    from data_warehouse_product_mix_clustering_spark.functions.text import sql_fingerprint

    return TRAINING_CORPUS_LM_BY_LANG_ORACLE_TEMPLATE.format(
        fingerprint=sql_fingerprint("text"),
        tokens=sql_tokens("text"),
        bpe=sql_bpe_tokens("text"),
        quality=sql_quality_score("t"),
        a=0.5,
        round_avg=sql_ratio_round("-avg(logp)"),
        keep_frac=_LM_KEEP_FRAC,
        quality_min=QUALITY_MIN,
        tok_lo=TOKEN_BUDGET[0],
        tok_hi=TOKEN_BUDGET[1],
    )


def _lm_by_lang_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual survivors-with-scores relation (doc_id, lang,
    n_tokens, quality_score, bits_per_token) the per-lang LM gate cuts:
    dedup → non-empty → quality → token budget (NO language filter),
    each doc scored against its own language's LM."""
    from pyspark.sql import Window

    from data_warehouse_product_mix_clustering_spark.functions.text import (
        bpe_tokens,
        fingerprint,
        quality_score as _qscore,
        tokens as _tokens,
    )
    from data_warehouse_product_mix_clustering_spark.operators.lm import lang_logprob_scores

    docs = table(spark, "documents", sf_dir)
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    kept = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "text")
    )
    t = kept.select(
        "doc_id",
        "lang",
        _tokens(F.col("text")).alias("t"),
        bpe_tokens(F.col("text")).alias("bt"),
    ).filter(F.size("t") > 0)
    surviving = t.select(
        "doc_id",
        "lang",
        F.size("bt").cast("long").alias("n_tokens"),
        _qscore(F.col("t")).alias("quality_score"),
    ).filter(
        (F.col("quality_score") >= QUALITY_MIN)
        & F.col("n_tokens").between(*TOKEN_BUDGET)
    )
    scores = lang_logprob_scores(docs).select("doc_id", "bits_per_token")
    return surviving.join(scores, "doc_id")


@register("training_corpus_lm_by_lang", oracle=training_corpus_lm_by_lang_oracle())
def training_corpus_lm_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL CCNet shape (VERDICT r11 #5 completed end-to-end): a
    MULTILINGUAL corpus (the same dedup → quality → token-budget gates
    as ``training_corpus``, minus its single-language filter) where each
    doc is scored against ITS OWN language's unigram LM
    (``operators/lm.py::lang_logprob_scores``) and each LANGUAGE's
    perplexity distribution is gated independently — percent_rank
    PARTITIONED BY lang, keep head+middle (≤ 0.7) per language. The
    per-lang partition also fixes the corpus-wide gate's one scale
    caveat: the rank window distributes across languages instead of
    running single-partition (each partition is one language's
    survivors — the same bounded class, now parallel, though a corpus
    dominated by ONE language still funnels; a per-language
    ``percentile_approx`` threshold would be that case's escape).
    Registered r13 with ``training_corpus_lm_by_lang_oracle``."""
    from pyspark.sql import Window

    ranked = _lm_by_lang_scored(spark, sf_dir).withColumn(
        "__pr",
        F.percent_rank().over(
            Window.partitionBy("lang").orderBy("bits_per_token")
        ),
    )
    return ranked.filter(F.col("__pr") <= _LM_KEEP_FRAC).select(
        "doc_id", "lang", "n_tokens", "quality_score", "bits_per_token"
    )


def _crosscorpus_oracle() -> str:
    """DuckDB twin of the cross-corpus rule: LM fit on the high-quality
    reference slice, every doc scored against it, OOV words floored at
    the reference LM's minimum logp."""
    return f"""
        WITH toks AS (
            SELECT doc_id, {sql_tokens("text")} AS t FROM documents
        ), reftok AS (
            SELECT unnest(t) AS word FROM toks
            WHERE {sql_quality_score('t')} >= 0.55
        ), counts AS (
            SELECT word, CAST(count(*) AS BIGINT) AS c
            FROM reftok GROUP BY 1
        ), totals AS (
            SELECT CAST(sum(c) AS DOUBLE) AS n,
                   CAST(count(*) AS DOUBLE) AS v
            FROM counts
        ), lm AS (
            SELECT word, log2((c + 0.5) / (n + 0.5 * v)) AS logp
            FROM counts, totals
        ), flr AS (
            SELECT min(logp) AS f FROM lm
        ), tok AS (
            SELECT doc_id, unnest(t) AS word FROM toks
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               {sql_ratio_round("-avg(COALESCE(logp, f))")} AS bits_per_token
        FROM tok LEFT JOIN lm USING (word), flr
        GROUP BY doc_id
    """


@register("doc_crosscorpus_logprob", oracle=_crosscorpus_oracle())
def doc_crosscorpus_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-corpus perplexity scoring — the actual CCNet deployment
    shape the self-scored queries approximate: the unigram LM fits on a
    CLEAN REFERENCE slice (here the top of the quality distribution,
    score ≥ 0.55 — the corpus maxes at ~0.57, so this is its 'high' tail —
    the in-testdata stand-in for CCNet's Wikipedia LM) and EVERY doc is
    scored against it, with out-of-vocabulary words floored at the
    reference LM's minimum logp (``unigram_logprob_scores``' external-lm
    path — this query is the driver-attestable consumer of the OOV
    floor, previously pytest-only). Gibberish/off-distribution docs now
    read as high-bits even when self-consistent, which self-scoring by
    construction cannot see. Registered r13 with
    ``_crosscorpus_oracle``."""
    from data_warehouse_product_mix_clustering_spark.functions.text import (
        quality_score as _qscore,
        tokens as _tokens,
    )
    from data_warehouse_product_mix_clustering_spark.operators.lm import (
        unigram_lm,
        unigram_logprob_scores,
    )

    docs = table(spark, "documents", sf_dir)
    ref = docs.filter(_qscore(_tokens(F.col("text"))) >= 0.55)
    lm = unigram_lm(ref)
    return unigram_logprob_scores(docs, lm=lm)


_WATERFALL_STAGES = [
    "0_total",
    "1_dedup",
    "2_nonempty",
    "3_lang_en",
    "4_quality",
    "5_token_budget",
    "6_lm_keep",
]

TRAINING_WATERFALL_ORACLE_TEMPLATE = """
    WITH flagged AS (
        SELECT doc_id, lang, {tokens} AS t, {bpe} AS bt,
               row_number() OVER (PARTITION BY {fingerprint}
                                  ORDER BY doc_id) = 1 AS f_dedup
        FROM documents
    ), gates AS (
        SELECT doc_id,
               f_dedup AS s1,
               f_dedup AND len(t) > 0 AS s2,
               f_dedup AND len(t) > 0 AND lang = '{lang}' AS s3,
               f_dedup AND len(t) > 0 AND lang = '{lang}'
                   AND {quality} >= {quality_min} AS s4,
               f_dedup AND len(t) > 0 AND lang = '{lang}'
                   AND {quality} >= {quality_min}
                   AND len(bt) BETWEEN {tok_lo} AND {tok_hi} AS s5
        FROM flagged
    ), alltoks AS (
        SELECT doc_id, {tokens} AS t FROM documents
    ), tok AS (
        SELECT doc_id, unnest(t) AS word FROM alltoks
    ), counts AS (
        SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
    ), totals AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
        FROM counts
    ), lm AS (
        SELECT word, log2((c + {a}) / (n + {a} * v)) AS logp
        FROM counts, totals
    ), scores AS (
        SELECT doc_id, {round_avg} AS bits_per_token
        FROM tok JOIN lm USING (word)
        GROUP BY doc_id
    ), ranked AS (
        SELECT g.doc_id, g.s1, g.s2, g.s3, g.s4, g.s5,
               g.s5 AND percent_rank() OVER (
                   PARTITION BY g.s5 ORDER BY sc.bits_per_token
               ) <= {keep_frac} AS s6
        FROM gates g LEFT JOIN scores sc USING (doc_id)
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
               CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
               CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
               CAST(sum(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT) AS n6
        FROM ranked
    )
    SELECT u.stage, u.n_docs,
           CAST(u.prev - u.n_docs AS BIGINT) AS dropped_here,
           {retention} AS retention
    FROM (
        SELECT '0_total' AS stage, n0 AS n_docs, n0 AS prev, n0 AS total FROM agg
        UNION ALL SELECT '1_dedup', n1, n0, n0 FROM agg
        UNION ALL SELECT '2_nonempty', n2, n1, n0 FROM agg
        UNION ALL SELECT '3_lang_en', n3, n2, n0 FROM agg
        UNION ALL SELECT '4_quality', n4, n3, n0 FROM agg
        UNION ALL SELECT '5_token_budget', n5, n4, n0 FROM agg
        UNION ALL SELECT '6_lm_keep', n6, n5, n0 FROM agg
    ) u
"""


def training_waterfall_oracle() -> str:
    """The composed DuckDB oracle for ``corpus_filter_waterfall``."""
    from data_warehouse_product_mix_clustering_spark.functions.text import sql_fingerprint

    return TRAINING_WATERFALL_ORACLE_TEMPLATE.format(
        fingerprint=sql_fingerprint("text"),
        tokens=sql_tokens("text"),
        bpe=sql_bpe_tokens("text"),
        quality=sql_quality_score("t"),
        a=0.5,
        round_avg=sql_ratio_round("-avg(logp)"),
        keep_frac=_LM_KEEP_FRAC,
        lang=CORPUS_LANG,
        quality_min=QUALITY_MIN,
        tok_lo=TOKEN_BUDGET[0],
        tok_hi=TOKEN_BUDGET[1],
        retention=sql_ratio_round(
            "CAST(u.n_docs AS DOUBLE) / CAST(u.total AS DOUBLE)"
        ),
    )


@register("corpus_filter_waterfall", oracle=training_waterfall_oracle())
def corpus_filter_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gate attrition accounting for the full training-corpus
    pipeline — the observability table a mixture owner reads before
    trusting a corpus build: one row per SEQUENTIAL gate (dedup →
    nonempty → lang → quality → token budget → LM perplexity keep) with
    the surviving count, the docs dropped AT that gate, and retention
    vs the raw corpus. Each stage-k count is the conjunction of gates
    1..k, so the rows reconcile exactly (dropped_here sums to
    total − final survivors) and the last row's count equals
    ``training_corpus_lm_filtered``'s cardinality by construction.

    ONE pass computes every gate flag per doc (the fingerprint window +
    token expressions), the LM score joins once, the LM percent_rank
    runs over the stage-5 survivors partition (the same bounded class
    as the filter itself), and a single 7-scalar aggregate explodes to
    the stage rows driver-free. Registered r13 with
    ``training_waterfall_oracle``."""
    from pyspark.sql import Window

    from data_warehouse_product_mix_clustering_spark.functions.text import (
        bpe_tokens,
        fingerprint,
        quality_score as _qscore,
        tokens as _tokens,
    )
    from data_warehouse_product_mix_clustering_spark.operators.lm import unigram_logprob_scores

    docs = table(spark, "documents", sf_dir)
    w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    flagged = docs.select(
        "doc_id",
        "lang",
        _tokens(F.col("text")).alias("t"),
        bpe_tokens(F.col("text")).alias("bt"),
        (F.row_number().over(w) == 1).alias("f_dedup"),
    )
    nonempty = F.size("t") > 0
    # quality only evaluable on nonempty token lists (division by zero)
    quality_ok = F.when(
        nonempty, _qscore(F.col("t")) >= QUALITY_MIN
    ).otherwise(F.lit(False))
    lang_ok = F.col("lang") == CORPUS_LANG
    gates = flagged.select(
        "doc_id",
        F.col("f_dedup").alias("s1"),
        (F.col("f_dedup") & nonempty).alias("s2"),
        (F.col("f_dedup") & nonempty & lang_ok).alias("s3"),
        (F.col("f_dedup") & nonempty & lang_ok & quality_ok).alias("s4"),
        (
            F.col("f_dedup")
            & nonempty
            & lang_ok
            & quality_ok
            & F.size("bt").cast("long").between(*TOKEN_BUDGET)
        ).alias("s5"),
    )
    scores = unigram_logprob_scores(docs).select("doc_id", "bits_per_token")
    ranked = gates.join(scores, "doc_id", "left").withColumn(
        "s6",
        F.col("s5")
        & (
            F.percent_rank().over(
                Window.partitionBy("s5").orderBy("bits_per_token")
            )
            <= _LM_KEEP_FRAC
        ),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        *[
            F.sum(F.col(f"s{k}").cast("long")).cast("long").alias(f"n{k}")
            for k in range(1, 7)
        ],
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(name).alias("stage"),
                F.col(f"n{k}").alias("n_docs"),
                F.col(f"n{max(k - 1, 0)}").alias("prev"),
            )
            for k, name in enumerate(_WATERFALL_STAGES)
        ]
    )
    return (
        agg.select(F.col("n0").alias("__total"), F.explode(stages).alias("s"))
        .select(
            F.col("s.stage").alias("stage"),
            F.col("s.n_docs").alias("n_docs"),
            (F.col("s.prev") - F.col("s.n_docs")).cast("long").alias("dropped_here"),
            ratio_round(
                F.col("s.n_docs").cast("double") / F.col("__total").cast("double")
            ).alias("retention"),
        )
    )


def _quality_lm_calibration_oracle() -> str:
    from data_warehouse_product_mix_clustering_spark.operators.lm import SQL_UNIGRAM_SELF_SCORE

    lm = SQL_UNIGRAM_SELF_SCORE.format(
        tokens=sql_tokens("text"),
        a=0.5,
        round_avg=sql_ratio_round("-avg(logp)"),
    )
    return f"""
        WITH lm_scores AS ({lm}),
        q AS (
            SELECT doc_id, {sql_quality_score(sql_tokens("text"))} AS quality_score
            FROM documents
        ), joined AS (
            SELECT q.doc_id, q.quality_score, lm_scores.bits_per_token,
                   ntile(10) OVER (ORDER BY q.quality_score, q.doc_id)
                       AS decile
            FROM q JOIN lm_scores ON q.doc_id = lm_scores.doc_id
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               {sql_ratio_round("avg(quality_score)")} AS avg_quality,
               {sql_ratio_round("avg(bits_per_token)")} AS avg_bits_per_token
        FROM joined
        GROUP BY decile
    """


@register("doc_quality_lm_calibration", oracle=_quality_lm_calibration_oracle())
def doc_quality_lm_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-agreement diagnostic: does the CHEAP heuristic quality score
    rank documents the way the EXPENSIVE LM perplexity filter does? Docs
    bucket into quality-score deciles (ntile over (score, doc_id) — the
    doc_id tie-break makes bucket edges deterministic across engines);
    each decile reports its mean quality and mean LM bits/token. A
    calibrated pipeline shows bits falling as quality rises; a flat or
    inverted profile means the cheap pre-filter is throwing away docs
    the LM gate would keep (the scores → gates alignment check a
    pipeline owner reads before tightening either threshold).

    Scale note: the decile ntile is a single global-order window over
    per-doc scalars — the registered Pareto/percent_rank class; the
    coded escape hatch at 1e9+ docs is decile edges from ONE
    percentile_approx sketch + a broadcast bucket join, or exact edges via
    ``with_rank_and_running``. Everything upstream is the proven LM
    relation (two word-key shuffles) + one quality-expression scan.
    Pre-staged with ``_quality_lm_calibration_oracle()``."""
    from data_warehouse_product_mix_clustering_spark.operators.lm import unigram_logprob_scores
    from pyspark.sql import Window

    docs = table(spark, "documents", sf_dir)
    lm = unigram_logprob_scores(docs).select("doc_id", "bits_per_token")
    q = docs.select(
        "doc_id", quality_score(tokens(F.col("text"))).alias("quality_score")
    )
    joined = q.join(lm, "doc_id").withColumn(
        "decile",
        F.ntile(10)
        .over(Window.orderBy("quality_score", "doc_id"))
        .cast("long"),
    )
    return joined.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        ratio_round(F.avg("quality_score")).alias("avg_quality"),
        ratio_round(F.avg("bits_per_token")).alias("avg_bits_per_token"),
    )
