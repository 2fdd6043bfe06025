"""Text analysis operators (SURVEY.md §2.K — K5 + extensions).

The text-side of the training-data pipeline over ``documents``:
corpus statistics, language identification, quality scoring, token
counting, and rolling-hash fingerprinting. Everything except the
fingerprint (which needs xxhash64) is built-in column expressions
with an exact SQL oracle.

Scale notes: all of these are narrow per-row transforms + one
aggregation — they pipeline inside whole-stage codegen and scale
linearly. The fingerprint's explode multiplies rows by document
length; at 100 TB fingerprint in the same pass as ingest and store
only the winnowed set (bounded per doc), never the exploded grams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_airflow_spark.io import load_table
from osm_airflow_spark.registry import query

# tiny curated stopword lists for the n-gram language heuristic
_EN_STOP = ("the", "a", "of", "and", "in", "to", "is")
_DE_STOP = ("der", "die", "das", "und", "ist", "ein")
_FR_STOP = ("le", "la", "les", "et", "est", "un")


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# Shared oracle fragment: the stopword-argmax language prediction CTE
# body (lang, predicted_lang per document). One definition serves the
# llm_eval_mcc oracle (and any future gate-eval key); llm_lang_id's
# and llm_eval_prf's oracles keep their original inline copies —
# driver-proven keys are not churned, and their text is verbatim this.
def _pred_cte_sql() -> str:
    return f"""pred AS (
      SELECT lang,
             CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                  WHEN de_hits >= fr_hits THEN 'de'
                  ELSE 'fr' END AS predicted_lang
      FROM (
        SELECT lang,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ({_sql_list(_EN_STOP)}))) AS en_hits,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ({_sql_list(_DE_STOP)}))) AS de_hits,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ({_sql_list(_FR_STOP)}))) AS fr_hits
        FROM documents
      )
    )"""


@query(
    "llm_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 — corpus statistics per language (integer sums → exact)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


def _stop_count(words: Column, stopwords: tuple[str, ...]) -> Column:
    # long, matching DuckDB len() (BIGINT) for dtype-strict compares
    return F.size(F.filter(words, lambda w: w.isin(*stopwords))).cast("long")


@query(
    "llm_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                WHEN de_hits >= fr_hits THEN 'de'
                ELSE 'fr' END AS predicted_lang,
           en_hits, de_hits, fr_hits
    FROM (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({_sql_list(_EN_STOP)}))) AS en_hits,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({_sql_list(_DE_STOP)}))) AS de_hits,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({_sql_list(_FR_STOP)}))) AS fr_hits
      FROM documents
    )
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — stopword-profile language ID (the n-gram-heuristic
    family: count hits against per-language marker lists, argmax with
    a fixed preference order for ties). Real corpora swap in char
    n-gram profiles; the plumbing — filter/size over split, argmax —
    is identical."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "lang",
        _stop_count(words, _EN_STOP).alias("en_hits"),
        _stop_count(words, _DE_STOP).alias("de_hits"),
        _stop_count(words, _FR_STOP).alias("fr_hits"),
    )
    return scored.select(
        "doc_id",
        "lang",
        F.when(
            (F.col("en_hits") >= F.col("de_hits")) & (F.col("en_hits") >= F.col("fr_hits")), "en"
        )
        .when(F.col("de_hits") >= F.col("fr_hits"), "de")
        .otherwise("fr")
        .alias("predicted_lang"),
        "en_hits",
        "de_hits",
        "fr_hits",
    )


@query(
    "llm_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_words,
           stop_ratio,
           mean_word_len,
           least(n_words, 200) / 200.0 * 0.4
                + least(stop_ratio * 4, 1.0) * 0.3
                + CASE WHEN mean_word_len BETWEEN 3 AND 8 THEN 0.3 ELSE 0.0 END
             AS quality_score
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len
      FROM documents
    )
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — heuristic document quality: length saturation +
    stopword ratio + mean word length band (the Gopher-rules shape).
    Weights are explicit; every term is exact arithmetic on integer
    counts — one shared IEEE expression tree, so both engines produce
    the bit-identical double and the score is emitted UNROUNDED (the
    r7 round()-audit: rounding a derived double is the only point
    where the engines' HALF_UP semantics could diverge at a midpoint
    repr, and per-row output needs no rounding at all)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    stop_ratio = _stop_count(words, _EN_STOP).cast("double") / n_words
    mean_word_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_words
    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        stop_ratio.alias("stop_ratio"),
        mean_word_len.alias("mean_word_len"),
    )
    score = (
        F.least(F.col("n_words"), F.lit(200)) / 200.0 * 0.4
        + F.least(F.col("stop_ratio") * 4, F.lit(1.0)) * 0.3
        + F.when(F.col("mean_word_len").between(3, 8), 0.3).otherwise(0.0)
    )
    return base.select(
        "doc_id", "n_words", "stop_ratio", "mean_word_len", score.alias("quality_score")
    )


@query(
    "llm_quality_logit",
    oracle=f"""
    SELECT doc_id,
           logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS p_keep,
           round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS kept
    FROM (
      SELECT doc_id,
             -1.0 + 2.5 * (least(n_words, 200) / 200.0)
                  + 1.5 * stop_ratio
                  + 0.8 * (CASE WHEN mean_word_len BETWEEN 3 AND 8
                                THEN 1.0 ELSE 0.0 END) AS logit
      FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mean_word_len
        FROM documents
      )
    )
    """,
)
def llm_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — learned-filter inference: a logistic classifier
    over the quality features (length saturation, stopword ratio,
    word-length band) with fixed weights — the shape of every
    model-based quality filter (fastText/logreg over cheap features)
    once training has happened elsewhere. The linear part is exact
    IEEE arithmetic on identical inputs, so the logit is bit-equal
    across engines unrounded; the sigmoid's exp() differs between
    libms in the last ulp, so the probability rounds to 6 dp (the
    osm_way_lengths transcendental recipe) and the keep decision
    reads off the ROUNDED value so it cannot straddle an ulp. All
    JVM column expressions — at 100 TB this is a free map over the
    scan, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    stop_ratio = _stop_count(words, _EN_STOP).cast("double") / n_words
    mean_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / n_words
    logit = (
        F.lit(-1.0)
        + 2.5 * (F.least(n_words, F.lit(200)) / 200.0)
        + 1.5 * stop_ratio
        + 0.8 * F.when(mean_word_len.between(3, 8), 1.0).otherwise(0.0)
    )
    base = d.select("doc_id", logit.alias("logit"))
    p_keep = F.round(1.0 / (1.0 + F.exp(-F.col("logit"))), 6)
    return base.select(
        "doc_id", "logit", p_keep.alias("p_keep"), (p_keep >= 0.5).alias("kept")
    )


@query(
    "llm_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           length(regexp_replace(text, '[a-z0-9]+', 't', 'g'))
             - length(replace(regexp_replace(text, '[a-z0-9]+', 't', 'g'), 't', ''))
             AS regex_tokens,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_est_tokens
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — token counting three ways: whitespace split, a
    BPE-ish regex word segmentation (count alnum runs), and the
    chars/4 estimator used for quick budget math."""
    d = load_table(spark, sf_dir, "documents")
    collapsed = F.regexp_replace(F.col("text"), "[a-z0-9]+", "t")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        (
            F.length(collapsed) - F.length(F.replace(collapsed, F.lit("t"), F.lit("")))
        ).cast("long").alias("regex_tokens"),
        F.ceil(F.col("n_chars") / 4.0).alias("bpe_est_tokens"),
    )


# Winnowing-fingerprint CTE text, shared between llm_fingerprint's
# digest and llm_dedup_fingerprint's overlap pairs so the two oracles
# can never drift on the hash family or short-doc semantics.
FP_WINNOW_CTE = """g AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 8 THEN list_transform(
               range(1, length(text) - 7 + 1),
               i -> unicode(text[i:i])     * 107213535210701::BIGINT
                  + unicode(text[i+1:i+1]) * 1061520150601::BIGINT
                  + unicode(text[i+2:i+2]) * 10510100501::BIGINT
                  + unicode(text[i+3:i+3]) * 104060401::BIGINT
                  + unicode(text[i+4:i+4]) * 1030301::BIGINT
                  + unicode(text[i+5:i+5]) * 10201::BIGINT
                  + unicode(text[i+6:i+6]) * 101::BIGINT
                  + unicode(text[i+7:i+7])
             ) ELSE CAST([] AS BIGINT[]) END AS grams
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN len(grams) >= 1 THEN
               list_distinct(list_transform(
                 range(1, greatest(len(grams) - 3, 1) + 1),
                 j -> list_min(grams[j:j+3])
               )) ELSE CAST([] AS BIGINT[]) END AS fp
      FROM g
    )"""


def _fp_winnowed(d: DataFrame) -> DataFrame:
    """(doc_id, fp) winnowed-fingerprint arrays — the engine-side
    twin of FP_WINNOW_CTE, shared by llm_fingerprint and
    llm_dedup_fingerprint."""
    grams = F.expr(
        "CASE WHEN length(text) >= 8 THEN"
        " transform(sequence(1, length(text) - 7), i ->"
        "   ascii(substring(text, i,     1)) * 107213535210701L"
        " + ascii(substring(text, i + 1, 1)) * 1061520150601L"
        " + ascii(substring(text, i + 2, 1)) * 10510100501L"
        " + ascii(substring(text, i + 3, 1)) * 104060401L"
        " + ascii(substring(text, i + 4, 1)) * 1030301L"
        " + ascii(substring(text, i + 5, 1)) * 10201L"
        " + ascii(substring(text, i + 6, 1)) * 101L"
        " + ascii(substring(text, i + 7, 1)))"
        " ELSE cast(array() as array<bigint>) END"
    )
    winnowed = F.expr(
        "CASE WHEN size(grams) >= 1 THEN"
        " array_distinct(transform(sequence(1, greatest(size(grams) - 3, 1)),"
        "  j -> array_min(slice(grams, j, 4))))"
        " ELSE cast(array() as array<bigint>) END"
    )
    return d.select("doc_id", grams.alias("grams")).select(
        "doc_id", winnowed.alias("fp")
    )


@query(
    "llm_fingerprint",
    oracle=f"""
    WITH {FP_WINNOW_CTE}
    SELECT doc_id,
           len(fp) AS n_fingerprints,
           list_min(fp) AS min_fp,
           CAST(coalesce(list_sum(list_transform(fp, x -> x % 1000000000)), 0)
                % 1000000000 AS BIGINT) AS fp_checksum
    FROM w
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — winnowing document fingerprint: rolling char
    8-gram hashes, minimum per 4-gram window, distinct survivors.
    The standard plagiarism/near-dup fingerprint (Schleimer et al.,
    SIGMOD 2003), all in column expressions: sequence → transform →
    sliding slice minima → array_distinct.

    SQL-oracled (round 8 — the contract change the r7 window
    promised): the hash family is a base-101 polynomial over char
    codes, written as the same 8-term closed form in both engines.
    Everything is exact BIGINT arithmetic — max gram value
    121 * (101^8 - 1)/100 ~ 1.3e16 < 2^63, so no modulus is needed
    inside the hash and the fingerprints are bit-identical by integer
    determinism (documents are ASCII at every SF; Spark ascii ==
    DuckDB unicode per char). Docs shorter than 8 chars emit an EMPTY
    fingerprint (n=0, NULL min, checksum 0) in BOTH engines — the r8
    ``greatest(length-7, 1)`` clamp manufactured one gram from
    out-of-range reads, where Spark ``ascii('')`` is 0 but DuckDB
    ``unicode('')`` is -1 (r9 ADVICE fix, pinned by
    tests/test_llm.py::test_fingerprint_short_docs). The digest row is
    (count, min, order-independent checksum): the checksum folds
    fp %% 1e9 per element BEFORE summing so the running total stays
    < n_fp * 1e9 ~ 1e12, overflow-free at any SF, and order
    independence survives array_distinct/list_distinct ordering
    differences. Scale: a narrow map — per-doc cost O(len * 8), no
    shuffle, no UDF; winnowing keeps ~1/window of grams, bounding
    downstream index state (the Schleimer guarantee)."""
    d = load_table(spark, sf_dir, "documents")
    return _fp_winnowed(d).select(
        "doc_id",
        F.size("fp").cast("long").alias("n_fingerprints"),
        F.array_min("fp").alias("min_fp"),
        (
            F.expr("aggregate(fp, 0L, (a, x) -> a + x % 1000000000)")
            % 1000000000
        ).alias("fp_checksum"),
    )


@query(
    "llm_chunk_documents",
    oracle="""
    SELECT doc_id,
           CAST(c - 1 AS INT) AS chunk_idx,
           array_to_string(words[(c - 1) * 40 + 1 : (c - 1) * 40 + 50], ' ') AS chunk_text,
           len(words[(c - 1) * 40 + 1 : (c - 1) * 40 + 50]) AS chunk_tokens
    FROM (
      SELECT doc_id, string_split(text, ' ') AS words,
             CAST(ceil(len(string_split(text, ' ')) / 40.0) AS INT) AS n_chunks
      FROM documents
    ), UNNEST(generate_series(1, n_chunks)) AS t(c)
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — fixed-size chunking with overlap: 50-token windows
    advancing by 40 (10-token overlap) — the context-window prep
    every training pipeline runs. Pure column expressions: sequence
    over chunk starts → slice → explode; rows multiply by
    ceil(len/stride), known in advance."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stride, size = 40, 50
    n_chunks = F.ceil(F.size(words) / stride).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("int").alias("chunk_idx"),
            F.array_join(F.slice(words, c * stride + 1, size), " ").alias("chunk_text"),
            F.size(F.slice(words, c * stride + 1, size)).cast("long").alias("chunk_tokens"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("ch"))
        .select("doc_id", "ch.chunk_idx", "ch.chunk_text", "ch.chunk_tokens")
    )


@query(
    "llm_split_assign",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(text), 1, 2) < '0a' THEN 'test'
                WHEN substr(md5(text), 1, 2) < '1a' THEN 'val'
                ELSE 'train' END AS split,
           substr(md5(text), 1, 2) AS hash_prefix
    FROM documents
    """,
)
def llm_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — deterministic train/val/test assignment by content
    hash prefix (~4% test, ~6% val by hex range). Content-hashed, not
    random: the same document lands in the same split on any cluster,
    any partitioning, any rerun — and duplicated texts can never
    straddle splits (leakage guard). The scalable reproducible-split
    idiom."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5("text"), 1, 2)
    return d.select(
        "doc_id",
        "lang",
        F.when(prefix < "0a", "test").when(prefix < "1a", "val").otherwise("train").alias(
            "split"
        ),
        prefix.alias("hash_prefix"),
    )


@query(
    "llm_sample_stratified",
    oracle="""
    SELECT source,
           COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE substr(md5(text), 1, 2) < '40'
    GROUP BY source
    """,
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — reproducible ~25% corpus sample (md5 prefix <
    0x40) with per-source accounting: the down-sampling step before
    expensive stages, deterministic under any execution plan (unlike
    seeded random sampling, which varies with partition iteration
    order)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.where(F.substring(F.md5("text"), 1, 2) < "40")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


# BM25 over documents for the fixed 3-term query, shared between the
# llm_bm25_topk surface key and llm_hybrid_rrf's lexical arm — both
# the SQL CTE text and the DataFrame builder.
BM25_SQL_CTE = """
    d AS (
      SELECT doc_id, toks,
             CAST(len(toks) AS DOUBLE) AS dl,
             CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tf2
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl,
             CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      FROM d
    ),
    bm25_scored AS (
      SELECT doc_id,
             round(ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0), 6)
               * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
             + round(ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0), 6)
               * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
             + round(ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0), 6)
               * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
               AS bm25
      FROM d, g
    )
"""


_BM25_TERMS = ("table", "spark", "merge")


def _bm25_doc_stats(d: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, dl, tf0..tfN): per-doc length and term frequencies as
    in-array filters — no explode, no shuffle."""
    toks = F.split("text", " ")

    def tf_of(t: str):
        # one-arg lambda: a default-arg capture would make F.filter
        # treat it as the (element, index) two-arg form
        return F.size(F.filter(toks, lambda x: x == F.lit(t))).cast("double")

    return d.select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(terms)],
    )


def _bm25_apply(
    docs: DataFrame,
    g: DataFrame,
    n_terms: int,
    extra: tuple[Column, ...] = (),
) -> DataFrame:
    """Score per-doc stats against a ONE-ROW corpus-stats DataFrame
    (n, avgdl, df0..dfN) broadcast-cross-joined in — the same IEEE
    expression tree whether g came from the inline aggregate
    (``bm25_scored``) or the persisted posting-stats index
    (``bm25_from_index``), which is what makes the two paths
    bit-identical and the parity test exact. ``extra`` columns (over
    ``docs``'s per-doc stats) ride through the same projection —
    llm_eval_rank_metrics uses this for the relevance grade without
    a second scoring tree."""

    def term(i: int):
        idf = F.round(
            F.log(
                (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
                + 1.0
            ),
            6,
        )
        return (
            idf
            * (F.col(f"tf{i}") * 2.2)
            / (
                F.col(f"tf{i}")
                + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl")))
            )
        )

    score = term(0)
    for i in range(1, n_terms):
        score = score + term(i)
    return docs.crossJoin(F.broadcast(g)).select(
        "doc_id", score.alias("bm25"), *extra
    )


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document — the shared scoring plan
    behind llm_bm25_topk and llm_hybrid_rrf; see llm_bm25_topk for
    the determinism and scale notes."""
    d = load_table(spark, sf_dir, "documents")
    docs = _bm25_doc_stats(d, _BM25_TERMS)
    g = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum(F.col("dl").cast("long")).cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    return _bm25_apply(docs, g, len(_BM25_TERMS))


def bm25_from_index(
    docs: DataFrame,
    stats_dir: str,
    terms: tuple[str, ...] = _BM25_TERMS,
) -> DataFrame:
    """(doc_id, bm25) scoring FROM the maintained posting-stats index
    (r9 — the shape llm_bm25_topk's docstring promises at 100 TB):
    N / avgdl / per-term df come from ``read_posting_stats`` — the
    state ``posting_stats_ingest_stream`` maintains incrementally —
    instead of an inline full-corpus aggregate, so scoring a query
    costs one scan of the DOCUMENTS BEING SCORED plus a |terms|-row
    lookup, never a corpus statistics pass.

    Exact parity with the inline path (asserted bit-identical in
    tests/test_streaming.py::test_bm25_from_index_matches_inline_key):
    the index's df is countDistinct(doc) per word ≡ the inline
    count of docs with tf>0; sum_dl/n_docs is the same exact-long
    division as the inline avgdl; and the scoring itself is the
    shared ``_bm25_apply`` tree. Terms absent from the index score
    df=0, same as inline. Stats ride as ONE broadcast 1-row
    aggregate — the words lookup is a |terms|-row filtered scan
    folded into it, no driver collect."""
    spark = docs.sparkSession
    words, corpus = read_posting_stats(spark, stats_dir)
    dfs = words.where(F.col("word").isin(list(terms))).agg(
        *[
            F.coalesce(F.sum(F.when(F.col("word") == t, F.col("df"))), F.lit(0))
            .cast("double")
            .alias(f"df{i}")
            for i, t in enumerate(terms)
        ]
    )
    g = corpus.crossJoin(dfs).select(
        F.col("n_docs").cast("double").alias("n"),
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
        *[F.col(f"df{i}") for i in range(len(terms))],
    )
    return _bm25_apply(_bm25_doc_stats(docs, terms), g, len(terms))


@query(
    "llm_bm25_topk",
    oracle=f"""
    WITH {BM25_SQL_CTE}
    SELECT doc_id, bm25 FROM bm25_scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r8) — BM25 keyword retrieval (the Lucene/Okapi
    formula, k1=1.2, b=0.75) for a fixed 3-term query over the
    corpus, top-20. The lexical half of the modern retrieval stack;
    ``llm_hybrid_rrf`` fuses it with the embedding half.

    Determinism: the ONLY libm call is ln — each idf is rounded to
    6 dp at the transcendental (the llm_tfidf_topk recipe), then the
    rest of the score is a shared IEEE tree over exact inputs (tf,
    dl integers; avgdl = exact-int sum / exact count) with literal
    parenthesization mirrored between engines — bit-identical, so
    the score is emitted UNROUNDED (the ROUND_AUDITED rule: never
    round a derived double at emission) and even the top-20 ORDER is
    oracle-exact (ties by doc_id).

    Scale: per-doc tf is an in-array filter (no explode, no
    shuffle); N/avgdl/df ride as ONE 1-row aggregate
    broadcast-cross-joined into the scoring (the trade_edges
    pattern — corpus-bounded scalars never .collect()); top-20 is
    TakeOrderedAndProject. One scan, no corpus shuffle — at 100 TB
    the df vector for a real query vocabulary comes from the
    pre-built posting-stats index instead of the inline aggregate:
    that path is ``bm25_from_index`` (r9), proven bit-identical to
    this key on the same corpus, fed by the incrementally-maintained
    ``posting_stats_ingest_stream`` state."""
    return (
        bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "llm_sample_weighted",
    oracle="""
    SELECT doc_id, weight,
           round(ln((h + 0.5) / 4294967296.0) / weight, 6) AS es_key
    FROM (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
             ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
      FROM documents
    )
    ORDER BY es_key DESC, doc_id
    LIMIT 50
    """,
)
def llm_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r8) — weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each doc draws a deterministic
    uniform u from its content (first 8 md5 hex chars → exact int →
    (h+0.5)/2^32, identical doubles in both engines) and is ranked by
    ln(u)/weight; the top-k by that key IS an exact weighted sample
    without replacement (Efraimidis & Spirakis 2006). Weight here is
    n_chars — the 'sample long documents proportionally more' shape
    every data-mix pipeline needs; swap in a quality score at will.

    Determinism contract: ln is libm (not correctly rounded), so the
    key is rounded to 6 dp BEFORE the ordering and ties break by
    doc_id — the engine-wide pre-argmax discipline (osm_nearest_node,
    ROUND_AUDITED). Selection is reproducible under ANY partitioning:
    u is content-derived, never rand().

    Scale: narrow map + TakeOrderedAndProject (per-partition top-k,
    merge k·partitions rows on the driver) — no shuffle of the
    corpus, exactly the llm_sim_topk shape. At 100 TB the sample is
    one scan; re-sampling with a different k reuses nothing but the
    scan, so persist the es_key column if sampling repeatedly."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") + 0.5
    ) / 4294967296.0
    key = F.round(F.log(u) / F.col("n_chars").cast("double"), 6)
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("double").alias("weight"),
            key.alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(50)
    )


@query(
    "llm_pack_sequences",
    oracle="""
    SELECT (doc_id % 16) * 1000000
             + CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs_in_pack,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             SUM(len(string_split(text, ' ')))
               OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM documents
    )
    GROUP BY 1
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — sequence packing: assign documents to fixed-budget
    context windows (512 tokens) by running-total binning — the
    batch-construction step that minimizes padding in training. Doc
    order inside a pack is a free variable, so packing runs WITHIN
    deterministic key-derived partitions (``doc_id % 16``): each
    partition packs independently in parallel (no global single-task
    window), and pack ids are made globally unique as
    ``partition * 1e6 + local_pack``. Exact integer token counts make
    the per-partition cumsum engine-independent; at 100 TB raise the
    modulus to O(cluster cores) — per-partition padding waste is at
    most one underfull tail window per partition."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    part = F.pmod(F.col("doc_id"), F.lit(16)).cast("long")
    w = (
        Window.partitionBy("pack_part")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = (
        d.select("doc_id", n_tokens.alias("n_tokens"), part.alias("pack_part"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
    )
    pack = F.col("pack_part") * F.lit(1_000_000) + F.floor(
        (F.col("cum_tokens") - F.col("n_tokens")) / 512.0
    )
    return with_cum.groupBy(pack.alias("pack_id")).agg(
        F.count(F.lit(1)).alias("n_docs_in_pack"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@query(
    "llm_pii_scrub",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '\\d', '#', 'g') AS name_masked,
           regexp_extract(c_name, '(\\d+)', 1) AS numeric_id,
           length(c_name) - length(regexp_replace(c_name, '\\d', '', 'g'))
             AS n_digits,
           regexp_matches(c_name, '\\d{6,}') AS has_long_number
    FROM customer
    """,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — PII-style redaction: mask digit runs, extract the
    numeric identifier, count digits, flag long (id-like) numbers.
    The standard scrub pass before corpus release — all built-in
    regex expressions (JVM-side), exact across engines (note the 'g'
    flag: DuckDB replaces first-match by default, Spark globally)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", r"\d", "#").alias("name_masked"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("numeric_id"),
        (
            F.length("c_name")
            - F.length(F.regexp_replace("c_name", r"\d", ""))
        ).cast("long").alias("n_digits"),
        F.col("c_name").rlike(r"\d{6,}").alias("has_long_number"),
    )


@query(
    "llm_repetition_ratio",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]) AS grams
      FROM documents
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           len(list_distinct(grams)) AS n_distinct,
           1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
             AS repetition_ratio
    FROM g
    """,
)
def llm_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — within-document repetition: 1 − distinct/total
    3-grams, the boilerplate/spam signal quality filters cut on
    (high ratio = copy-pasted or templated text). Integer set sizes
    → exact division → SQL-oracled; one narrow projection, no
    shuffle at all."""
    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    grams = shingle_array("words", 3)
    return (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .select("doc_id", grams.alias("grams"))
        .select(
            "doc_id",
            F.size("grams").cast("long").alias("n_grams"),
            F.size(F.array_distinct("grams")).cast("long").alias("n_distinct"),
            (
                F.lit(1.0)
                - F.size(F.array_distinct("grams")).cast("double") / F.size("grams")
            ).alias("repetition_ratio"),
        )
    )


@query(
    "llm_length_histogram",
    oracle="""
    SELECT length(bin(n_chars)) AS log2_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def llm_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — power-of-two document-length histogram (the
    corpus-shape report sequence-packing and batch-sizing read).
    Bucket = bit length of n_chars — pure INTEGER math, engine-exact,
    unlike floor(log2(x)) whose libm rounding can differ at
    boundaries. One partial-aggregated groupBy over ~60 buckets."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.length(F.bin("n_chars")).cast("long").alias("log2_bucket"), "n_chars")
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "llm_contamination_check",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]))) AS gram
      FROM documents
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0),
    train AS (SELECT doc_id, gram FROM grams WHERE doc_id % 17 <> 0),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_contaminated
      FROM train t JOIN bench b USING (gram)
      GROUP BY t.doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id)
    SELECT totals.doc_id,
           totals.n_grams,
           COALESCE(hits.n_contaminated, 0) AS n_contaminated,
           CAST(COALESCE(hits.n_contaminated, 0) AS DOUBLE) / totals.n_grams
             AS contamination_ratio
    FROM totals LEFT JOIN hits USING (doc_id)
    """,
)
def llm_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — benchmark decontamination: fraction of each
    training document's distinct 3-grams that appear in the held-out
    benchmark set (docs with ``doc_id % 17 = 0`` stand in for the
    eval suite). The screen every training corpus runs before
    release. Shape: explode distinct grams once, LEFT broadcast join
    against the (much smaller) benchmark gram set, one conditional
    aggregation — shuffle ∝ gram count, never pairs of documents."""
    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingle_array("words", 3))).alias("gram"),
        )
    )
    bench = (
        grams.where(F.col("doc_id") % 17 == 0)
        .select("gram", F.lit(1).alias("_bench"))
        .distinct()
    )
    # LEFT broadcast against the bench set + ONE conditional
    # aggregation — not separate hits/totals branches, which would
    # re-explode the corpus (no exchange reuse in this build;
    # SCALE.md round-4 ledger). The bench subtree is the one
    # unavoidable second derivation: flagging grams via a per-gram
    # window instead would put every doc sharing a ubiquitous gram
    # in one task.
    train = grams.where(F.col("doc_id") % 17 != 0)
    per_doc = (
        train.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_bench").alias("n_contaminated"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        (F.col("n_contaminated").cast("double") / F.col("n_grams")).alias(
            "contamination_ratio"
        ),
    )


@query(
    "llm_boilerplate_df",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]))) AS gram
      FROM documents
    ),
    df AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           CAST(SUM(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS boilerplate_ratio,
           CAST(SUM(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) > 0.3 AS is_boilerplate
    FROM grams g JOIN df USING (gram)
    GROUP BY g.doc_id
    """,
)
def llm_boilerplate_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — corpus-frequency boilerplate screen (the C4-style
    filter: spans repeated across many documents are navigation
    chrome / license headers / templates, not content). Per document:
    the fraction of its distinct 3-grams whose corpus document
    frequency is >= 5, and a cut verdict at ratio > 0.3.

    Shape: explode distinct grams once (rows ∝ corpus tokens), one
    groupBy(gram) for the df table, one equi-join back on gram, one
    groupBy(doc). Never doc-pairs. At 100 TB the df table is the only
    wide intermediate — it is itself a candidate for a frequency
    floor (df >= 2 prunes the long unique tail, typically ~80% of
    grams) before the join-back; integer counts keep every engine
    bit-identical. The join-back re-scans the corpus (no exchange
    reuse in this build — SCALE.md round-4 ledger) and that is the
    RIGHT trade here: a per-gram window would put every document
    containing a ubiquitous boilerplate gram — the very thing this
    screen hunts — into one task."""
    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingle_array("words", 3))).alias("gram"),
        )
    )
    df_tab = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    boiler = F.when(F.col("df") >= 5, 1).otherwise(0)
    per_doc = (
        grams.join(df_tab, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(boiler).alias("n_boilerplate"),
        )
    )
    ratio = F.col("n_boilerplate").cast("double") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_boilerplate",
        ratio.alias("boilerplate_ratio"),
        (ratio > 0.3).alias("is_boilerplate"),
    )


@query(
    "llm_tfidf_topk",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, word, tf,
             tf * round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
      FROM tf JOIN df USING (word) CROSS JOIN n
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, word ASC) AS rn
      FROM scored
    )
    SELECT doc_id,
           array_to_string(list(word ORDER BY rn), ',') AS top_terms,
           CAST(CAST(MAX(CASE WHEN rn = 1 THEN score END) AS DECIMAL(18,6))
                AS DOUBLE) AS top_score
    FROM ranked WHERE rn <= 3 GROUP BY doc_id
    """,
)
def llm_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — per-document top-3 TF-IDF terms (keyword
    extraction, the classic relevance / topic signal). idf =
    ln(N/df) rounded to 6 dp before the tf multiply, so the libm
    last-ulp divergence between JVM ``Math.log`` and C ``ln`` cannot
    leak into the ranking (same recipe as ``osm_way_lengths``); ties
    broken by the term itself → total order → oracle-exact.

    Shape: explode → groupBy(doc, word) for tf → groupBy(word) for
    df → join back → per-doc top-3 window (row_number <= k plans as
    WindowGroupLimit: map-side k-capping, no full sort). N rides as a
    1-row in-plan aggregate broadcast-cross-joined into the scoring
    (the ``trade_edges`` pattern) — no driver-side ``.count()``
    action, and the count-only branch prunes to a zero-column scan
    instead of a second full read of the corpus. At 100 TB the df
    table is vocabulary-sized (millions, not billions) → broadcast
    the join-back; all shuffles are ∝ (doc, word) pairs, never pairs
    of documents.

    Measured limitation: the tf subtree feeds both the scoring branch
    and the df aggregation, and this Spark build never reuses the
    shared exchange (ReusedExchange count = 0 even for a minimal
    self-join-of-aggregate probe), so the text column is scanned
    twice. The alternatives are worse at scale: a word-partitioned
    window for df puts every (doc, 'the') pair in one task (unbounded
    stop-word skew), and persisting tf inside a registered query
    leaks cache into the driver's shared session. A production
    pipeline would checkpoint tf; as a single declarative query, the
    second skew-free columnar scan is the right trade."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))  # 1 row
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_tab), "word")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            (
                F.col("tf")
                * F.round(F.log(F.col("n_docs") / F.col("df")), 6)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word").asc())
    top = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    return top.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "word"))),
                lambda s: s.getField("word"),
            ),
            ",",
        ).alias("top_terms"),
        F.max(F.when(F.col("rn") == 1, F.col("score")))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("top_score"),
    )


@query(
    "llm_bigram_lm",
    oracle="""
    WITH g AS (
      SELECT unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1])) AS bg
      FROM documents
    ),
    bc AS (SELECT bg, COUNT(*) AS n_bigram FROM g GROUP BY bg),
    cc AS (
      SELECT string_split(bg, ' ')[1] AS w1,
             CAST(SUM(n_bigram) AS BIGINT) AS n_context
      FROM bc GROUP BY 1
    )
    SELECT string_split(bc.bg, ' ')[1] AS w1,
           string_split(bc.bg, ' ')[2] AS w2,
           bc.n_bigram, cc.n_context,
           CAST(bc.n_bigram AS DOUBLE) / cc.n_context AS cond_p
    FROM bc JOIN cc ON string_split(bc.bg, ' ')[1] = cc.w1
    """,
)
def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — count-based bigram language model over the corpus:
    P(w2 | w1) = count(w1 w2) / count(w1 ·) — the n-gram LM
    estimation step (and the statistic behind perplexity-based
    quality filters). Integer counts and one IEEE division →
    engine-exact. Shape: explode bigrams once, one keyed aggregation,
    then the context totals as a WINDOW over the aggregated bigram
    table partitioned by w1 — NOT a groupBy + join-back, because this
    Spark build never reuses the shared exchange (measured, see
    llm_tfidf_topk) and the branch would re-scan and re-explode the
    whole corpus. Window partition size = distinct successors of one
    context word, bounded by |V|, never by corpus size. Shuffle ∝
    distinct bigrams (≤ |V|²): once by bigram, once by w1."""
    from pyspark.sql import Window

    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    bigrams = (
        d.select(F.split("text", " ").alias("words"))
        # 0/1-word docs: shingle_array's short-doc fallback would emit
        # the whole doc as one pseudo-bigram (NULL w2 after the split)
        # while the oracle's generate_series(1, n-1) emits nothing.
        .filter(F.size("words") >= 2)
        .select(F.explode(shingle_array("words", 2)).alias("bg"))
    )
    bc = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("n_bigram"))
    parts = F.split("bg", " ")
    bc = bc.select(
        parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2"), "n_bigram"
    )
    n_context = F.sum("n_bigram").over(Window.partitionBy("w1"))
    return bc.withColumn("n_context", n_context).select(
        "w1",
        "w2",
        "n_bigram",
        "n_context",
        (F.col("n_bigram").cast("double") / F.col("n_context")).alias("cond_p"),
    )


@query(
    "llm_eval_agreement",
    oracle=f"""
    WITH f AS (
      SELECT len(string_split(text, ' ')) AS nw,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({{stops}}))) AS sh,
             length(replace(text, ' ', '')) AS nc,
             n_chars
      FROM documents
    ),
    r AS (
      SELECT (nw >= 5 AND sh * 10 >= nw) AS ka,
             (3 * nw <= nc AND nc <= 8 * nw AND n_chars >= 20) AS kb
      FROM f
    ),
    ct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT)
               AS b,
             CAST(SUM(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT)
               AS c,
             CAST(SUM(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM r
    ),
    k AS (
      SELECT n, a, b, c, d,
             CAST(n AS DECIMAL(19,0)) * CAST(a + d AS DECIMAL(19,0))
               - (CAST(a + b AS DECIMAL(19,0)) * CAST(a + c AS DECIMAL(19,0))
                  + CAST(c + d AS DECIMAL(19,0))
                    * CAST(b + d AS DECIMAL(19,0))) AS knum,
             CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
               - (CAST(a + b AS DECIMAL(19,0)) * CAST(a + c AS DECIMAL(19,0))
                  + CAST(c + d AS DECIMAL(19,0))
                    * CAST(b + d AS DECIMAL(19,0))) AS kden,
             CAST(b - c AS DECIMAL(19,0)) * CAST(b - c AS DECIMAL(19,0))
               AS msq
      FROM ct
    )
    SELECT n AS n_docs, a AS both_keep, b AS only_a, c AS only_b,
           d AS both_drop,
           CASE WHEN kden <> 0
                THEN round(CAST(knum AS DOUBLE) / CAST(kden AS DOUBLE), 9)
           END AS kappa,
           CASE WHEN b + c > 0
                THEN round(CAST(msq AS DOUBLE) / (b + c), 9)
           END AS mcnemar_stat,
           CASE WHEN b + c > 0
                THEN round(CAST(msq AS DOUBLE) / (b + c), 9) > 3.841
           END AS mcnemar_significant
    FROM k
    """.replace("{stops}", _sql_list(_EN_STOP)),
)
def llm_eval_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r11) — INTER-RATER AGREEMENT between two independent
    rule-based quality screens over the same corpus: Cohen's κ
    (Cohen 1960 — observed agreement corrected for the agreement two
    raters with these marginals would reach by chance) plus
    McNemar's paired test (McNemar 1947 — are the two screens'
    DISAGREEMENTS symmetric, i.e. is one systematically stricter?).
    The filter-governance eval: before swapping quality filter A for
    B in a data pipeline, κ says how interchangeable they are and
    McNemar says whether the swap shifts the kept set directionally.
    Rater A is a coverage screen (≥5 words, stopword ratio ≥ 0.1 as
    the integer cross-multiplication sh·10 ≥ nw); rater B is a shape
    screen (mean word length in [3, 8] as 3·nw ≤ chars ≤ 8·nw, ≥20
    chars) — deliberately rational-arithmetic-only raters, so the
    whole 2×2 table is exact integers.

    Determinism: κ = (n·(a+d) − Σ marginal products) / (n² − Σ
    marginal products) with every product computed in DECIMAL(19,0)²
    → exact at any corpus size (n² passes 2^53 at ~10⁸ docs, so
    longs would silently lose ulps at scale); the final ratio emits
    at 9 dp per the house >2^53-decimal-ratio recipe. McNemar's
    (b−c)²/(b+c) likewise squares in decimal; significance reads the
    ROUNDED statistic against the χ²₁ critical value 3.841 (a short
    exact literal). Degenerate guards: κ is NULL when chance
    agreement is total (kden = 0), McNemar NULL when b + c = 0.

    Shape: one corpus pass, all-JVM column expressions into a 1-row
    aggregate — free at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    nw = F.size(words).cast("long")
    sh = _stop_count(words, _EN_STOP).cast("long")
    nc = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long")
    ka = (nw >= 5) & (sh * 10 >= nw)
    kb = (3 * nw <= nc) & (nc <= 8 * nw) & (F.col("n_chars") >= 20)
    ct = d.select(ka.alias("ka"), kb.alias("kb")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("ka") & F.col("kb"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("ka") & ~F.col("kb"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("ka") & F.col("kb"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~F.col("ka") & ~F.col("kb"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )

    def dec(col) -> Column:
        return col.cast("decimal(19,0)")

    chance = dec(F.col("a") + F.col("b")) * dec(F.col("a") + F.col("c")) + dec(
        F.col("c") + F.col("d")
    ) * dec(F.col("b") + F.col("d"))
    knum = dec(F.col("n")) * dec(F.col("a") + F.col("d")) - chance
    kden = dec(F.col("n")) * dec(F.col("n")) - chance
    msq = dec(F.col("b") - F.col("c")) * dec(F.col("b") - F.col("c"))
    k = ct.select(
        "n", "a", "b", "c", "d",
        knum.alias("knum"), kden.alias("kden"), msq.alias("msq"),
    )
    mc = F.round(F.col("msq").cast("double") / (F.col("b") + F.col("c")), 9)
    return k.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("both_keep"),
        F.col("b").alias("only_a"),
        F.col("c").alias("only_b"),
        F.col("d").alias("both_drop"),
        F.when(
            F.col("kden") != 0,
            F.round(
                F.col("knum").cast("double") / F.col("kden").cast("double"), 9
            ),
        ).alias("kappa"),
        F.when(F.col("b") + F.col("c") > 0, mc).alias("mcnemar_stat"),
        F.when(F.col("b") + F.col("c") > 0, mc > 3.841).alias(
            "mcnemar_significant"
        ),
    )


@query(
    "llm_kneser_ney",
    oracle="""
    WITH g AS (
      SELECT unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1])) AS bg
      FROM documents
    ),
    bc AS (SELECT bg, COUNT(*) AS n_bigram FROM g GROUP BY bg),
    sp AS (
      SELECT string_split(bg, ' ')[1] AS w1,
             string_split(bg, ' ')[2] AS w2, n_bigram
      FROM bc
    ),
    ww AS (
      SELECT w1, w2, n_bigram,
             CAST(SUM(n_bigram) OVER (PARTITION BY w1) AS BIGINT)
               AS n_context,
             COUNT(*) OVER (PARTITION BY w1) AS n_succ,
             COUNT(*) OVER (PARTITION BY w2) AS n_pred,
             COUNT(*) OVER () AS n_types
      FROM sp
    )
    SELECT w1, w2, n_bigram, n_context, n_succ, n_pred,
           greatest(CAST(n_bigram AS DOUBLE) - 0.75, 0.0) / n_context
             + (0.75 * n_succ / n_context)
               * (CAST(n_pred AS DOUBLE) / n_types) AS kn_prob
    FROM ww
    """,
)
def llm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r11) — interpolated KNESER-NEY smoothed bigram
    probabilities (Kneser & Ney 1995; Chen & Goodman 1999's
    benchmark winner), the production-grade upgrade of
    ``llm_bigram_lm``'s raw MLE that perplexity-based quality
    filters actually run: P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·) +
    D·N1+(w1,·)/c(w1·) · Pcont(w2), with absolute discount D = 0.75
    and the continuation probability Pcont(w2) = N1+(·,w2)/|bigram
    types| — a word's probability mass in NOVEL contexts, the fix
    for "Francisco is frequent but only ever follows San".

    Determinism: every ingredient is an integer count (bigram count,
    context total, distinct successors/predecessors, total types);
    all counts ≪ 2^53 so the long→double casts are exact and the
    probability is a fixed tree of shared IEEE ops — no
    transcendentals, emitted unrounded and hash-exact.

    Shape: explode bigrams ONCE, one keyed aggregation to the
    distinct-bigram table, then localCheckpoint it (vocab²-bounded,
    NOT corpus-bounded — the BPE distinct-word-form precedent) so
    its three consumers (two windows + the 1-row type-count
    broadcast) don't each re-explode the corpus under this build's
    no-exchange-reuse. Both windows partition on a word (bounded by
    a word's distinct neighbors); the global type count rides as a
    broadcast 1-row aggregate per the house rule."""
    from pyspark.sql import Window

    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    bigrams = (
        d.select(F.split("text", " ").alias("words"))
        # 0/1-word docs: the shingle fallback would emit a whole-doc
        # pseudo-bigram whose split has no second element (ANSI
        # out-of-bounds or a NULL-w2 row inflating n_types/n_pred);
        # the oracle emits no row for such docs.
        .filter(F.size("words") >= 2)
        .select(F.explode(shingle_array("words", 2)).alias("bg"))
    )
    bc = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
        .localCheckpoint(eager=True)  # vocab²-bounded; 3 consumers
    )
    parts = F.split("bg", " ")
    sp = bc.select(
        parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2"), "n_bigram"
    )
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    ww = sp.select(
        "w1",
        "w2",
        "n_bigram",
        F.sum("n_bigram").over(w1w).cast("long").alias("n_context"),
        F.count(F.lit(1)).over(w1w).alias("n_succ"),
        F.count(F.lit(1)).over(w2w).alias("n_pred"),
    )
    types = sp.agg(F.count(F.lit(1)).alias("n_types"))
    kn = (
        F.greatest(F.col("n_bigram").cast("double") - 0.75, F.lit(0.0))
        / F.col("n_context")
        + (F.lit(0.75) * F.col("n_succ") / F.col("n_context"))
        * (F.col("n_pred").cast("double") / F.col("n_types"))
    )
    return ww.crossJoin(F.broadcast(types)).select(
        "w1",
        "w2",
        "n_bigram",
        "n_context",
        "n_succ",
        "n_pred",
        kn.alias("kn_prob"),
    )


@query(
    "llm_perplexity_filter",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1])) AS bg
      FROM documents
    ),
    bc AS (SELECT bg, COUNT(*) AS n_bigram FROM g GROUP BY bg),
    cc AS (
      SELECT string_split(bg, ' ')[1] AS w1,
             CAST(SUM(n_bigram) AS BIGINT) AS n_context
      FROM bc GROUP BY 1
    ),
    lm AS (
      SELECT bg, round(-ln(CAST(n_bigram AS DOUBLE) / n_context), 6) AS nll
      FROM bc JOIN cc ON string_split(bg, ' ')[1] = cc.w1
    ),
    scored AS (
      SELECT g.doc_id,
             COUNT(*) AS n_bigrams,
             CAST(SUM(CAST(lm.nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_nll
      FROM g JOIN lm USING (bg)
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_bigrams, avg_nll,
           avg_nll > 3.0 AS is_outlier
    FROM scored
    """,
)
def llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — LM-perplexity quality filter (the CCNet/Wikipedia
    -LM screen): score each document by the average negative log
    likelihood of its bigrams under the corpus's own bigram LM
    (``llm_bigram_lm``), flag outliers above a fixed threshold —
    high-perplexity docs are gibberish/OCR noise, suspiciously-low
    ones are templates. Determinism recipe for the transcendental:
    each bigram's −ln(p) is rounded to 6 dp, the per-doc mean sums
    those in exact decimal and divides once in double (the
    ``osm_way_lengths`` pattern), so the engines agree bit-for-bit.

    Shape: the LM table (vocabulary² at worst — broadcastable) joins
    the exploded bigram stream once; two keyed aggregations. At
    100 TB: train the LM on a sample, broadcast it, score the corpus
    in one pass — exactly this plan with the bc/cc stage sampled."""
    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        # 0/1-word docs score no bigrams in the oracle; drop them
        # before the shingle fallback can invent a pseudo-bigram.
        .filter(F.size("words") >= 2)
        .select("doc_id", F.explode(shingle_array("words", 2)).alias("bg"))
    )
    bc = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("n_bigram"))
    cc = bc.groupBy(F.split("bg", " ").getItem(0).alias("w1")).agg(
        F.sum("n_bigram").alias("n_context")
    )
    lm = (
        bc.withColumn("w1", F.split("bg", " ").getItem(0))
        .join(F.broadcast(cc), "w1")
        .select(
            "bg",
            F.round(
                -F.log(F.col("n_bigram").cast("double") / F.col("n_context")), 6
            ).alias("nll"),
        )
    )
    scored = (
        grams.join(F.broadcast(lm), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )
    return scored.select(
        "doc_id", "n_bigrams", "avg_nll", (F.col("avg_nll") > 3.0).alias("is_outlier")
    )


@query(
    "llm_eval_perplexity",
    oracle="""
    WITH base AS (
      SELECT substr(md5(text), 1, 2) AS pfx,
             string_split(text, ' ') AS w
      FROM documents
    ),
    tw AS (SELECT unnest(w) AS word FROM base WHERE pfx >= '1a'),
    vocab AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM tw),
    tg AS (
      SELECT unnest(list_transform(
               generate_series(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1])) AS bg
      FROM base WHERE pfx >= '1a'
    ),
    bc AS (SELECT bg, COUNT(*) AS n_bigram FROM tg GROUP BY bg),
    cc AS (
      SELECT string_split(bg, ' ')[1] AS w1,
             CAST(SUM(n_bigram) AS BIGINT) AS n_context
      FROM bc GROUP BY 1
    ),
    vg AS (
      SELECT unnest(list_transform(
               generate_series(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1])) AS bg
      FROM base WHERE pfx >= '0a' AND pfx < '1a'
    ),
    scored AS (
      SELECT round(-ln(
               (CAST(COALESCE(bc.n_bigram, 0) + 1 AS DOUBLE))
               / (COALESCE(cc.n_context, 0) + vocab.v)), 6) AS nll,
             bc.bg IS NULL AS unseen
      FROM vg
      LEFT JOIN bc USING (bg)
      LEFT JOIN cc ON cc.w1 = string_split(vg.bg, ' ')[1]
      CROSS JOIN vocab
    )
    SELECT (SELECT v FROM vocab) AS vocab_size,
           CAST(COUNT(*) AS BIGINT) AS n_val_instances,
           CAST(SUM(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen,
           CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS avg_nll,
           round(exp(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*)), 6) AS perplexity
    FROM scored
    """,
)
def llm_eval_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r10) — HELD-OUT corpus perplexity: the intrinsic LM
    eval metric (the one every data-mixture/curation paper reports)
    beside the extrinsic eval suite (AUC, nDCG/MRR, BLEU/ROUGE). A
    bigram LM is trained on the TRAIN content-hash split and scores
    the VAL split with add-one (Laplace) smoothing over the train
    vocabulary — the smoothing is what distinguishes this from
    llm_perplexity_filter, which scores the corpus under its OWN LM
    and never meets an unseen bigram; held-out eval meets them
    constantly and an unsmoothed model would emit −ln(0). Splits are
    the llm_split_assign content-hash ranges (leakage-proof by
    construction; llm_ngram_novelty measures exactly the unseen mass
    this smoothing pays for).

    Determinism: each instance's −ln((c+1)/(ctx+V)) rounds at 6 dp
    (the transcendental term rule), sums in exact decimal, one IEEE
    division for avg_nll (emitted unrounded); perplexity =
    exp(avg_nll) re-rounds at 6 dp at emission (the libm rule —
    ks_test precedent).

    Scale: ONE documents pass to the checkpointed (pfx, words) base
    — grams and the vocabulary count both read it, and the split
    filters read the checkpointed gram table (no double scan; this
    build never reuses exchange subtrees); train collapses to bigram
    counts once, context totals are a direct groupBy-sum over that
    bounded table (never a corpus join-back); V rides as a broadcast
    1-row aggregate; val instances LEFT-join the LM (vocab²-bounded,
    broadcastable — at 100 TB train the LM on a sample and
    broadcast, same plan)."""
    d = load_table(spark, sf_dir, "documents")
    pfx = F.substring(F.md5("text"), 1, 2)
    # ONE corpus pass: the checkpointed base feeds grams AND the
    # vocab count (this build never reuses exchange subtrees — a
    # non-checkpointed base would re-scan + re-split for each)
    base = d.select(pfx.alias("pfx"), F.split("text", " ").alias("w"))
    base = base.localCheckpoint(eager=True)
    grams = base.select(
        "pfx", F.explode(_bleu_grams(F.col("w"), 2)).alias("bg")
    ).localCheckpoint(eager=True)  # train + val filters both read it
    words = base.where(F.col("pfx") >= "1a").select(
        F.explode("w").alias("word")
    )
    vocab = words.agg(F.countDistinct("word").alias("v"))

    bc = (
        grams.where(F.col("pfx") >= "1a")
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .localCheckpoint(eager=True)  # lm probe + context totals
    )
    lm = bc.select("bg", "n_bigram")
    cc = bc.groupBy(F.col("w1").alias("lm_w1")).agg(
        F.sum("n_bigram").alias("ctx")
    )

    val = grams.where((F.col("pfx") >= "0a") & (F.col("pfx") < "1a")).select(
        "bg", F.split("bg", " ").getItem(0).alias("w1")
    )
    scored = (
        val.join(F.broadcast(lm), "bg", "left")
        .join(F.broadcast(cc), val.w1 == cc.lm_w1, "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.round(
                -F.log(
                    (F.coalesce("n_bigram", F.lit(0)) + 1).cast("double")
                    / (F.coalesce("ctx", F.lit(0)) + F.col("v"))
                ),
                6,
            ).alias("nll"),
            F.col("n_bigram").isNull().alias("unseen"),
            "v",
        )
    )
    avg = F.sum(F.col("nll").cast("decimal(18,6)")).cast("double") / F.count(
        F.lit(1)
    )
    return scored.groupBy("v").agg(
        F.count(F.lit(1)).alias("n_val_instances"),
        F.sum(F.when(F.col("unseen"), 1).otherwise(0)).alias("n_unseen"),
        avg.alias("avg_nll"),
        F.round(F.exp(avg), 6).alias("perplexity"),
    ).select(
        F.col("v").alias("vocab_size"),
        "n_val_instances",
        "n_unseen",
        "avg_nll",
        "perplexity",
    )


@query(
    "llm_template_detect",
    oracle="""
    WITH inst AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws)),
                                   i -> {'ord': i, 'w': ws[i]})) AS p
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    words AS (SELECT doc_id, p.w AS w, p.ord AS ord FROM inst),
    df AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY w
    ),
    skel AS (
      SELECT doc_id,
             md5(string_agg(CASE WHEN df.df >= 3 THEN words.w ELSE '#' END,
                            ' ' ORDER BY ord)) AS skeleton
      FROM words JOIN df USING (w)
      GROUP BY doc_id
      -- scaffold guard: a template must KEEP at least half its words
      -- (an all-masked skeleton is degenerate — any two same-length
      -- all-rare docs would collide)
      HAVING SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) * 2 >= COUNT(*)
    ),
    texts AS (
      SELECT s.skeleton, s.doc_id, md5(d.text) AS th
      FROM skel s JOIN documents d USING (doc_id)
    )
    SELECT skeleton,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT th) AS BIGINT) AS n_distinct_texts,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM texts
    GROUP BY skeleton
    HAVING COUNT(*) >= 2 AND COUNT(DISTINCT th) >= 2
    ORDER BY n_docs DESC, skeleton
    """,
)
def llm_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r10) — STRUCTURAL TEMPLATE detection: documents
    sharing a skeleton (rare words masked — df < 3 corpus-wide — so
    only the COMMON scaffolding remains, and ≥ half the words must
    survive masking — an all-rare doc has no scaffold to share) with
    at least two distinct texts form a template cluster — machine-generated boilerplate,
    form letters, scraped web templates: the curation stage between
    exact dedup (identical text — excluded here by requiring ≥ 2
    distinct texts) and near-dedup (high shingle overlap — a template
    family can share almost no content words and still be one
    template). CCNet/RefinedWeb-style pipelines drop or downweight
    these clusters.

    Determinism: the skeleton is md5 of the position-ordered masked
    words (DuckDB string_agg ORDER BY ordinality ≡ Spark's
    array_sort(collect_list(struct(pos, w))) reassembly — the
    collections rule); df thresholds are exact integer counts.

    Scale: one explode to (doc, word, pos); df is a word-bounded
    groupBy whose join-back is the corpus-bounded per-word join the
    house rules keep as a JOIN (vocabulary ≪ corpus, broadcastable);
    skeleton reassembly is one per-doc groupBy (bounded by doc
    length); the cluster groupBy shuffles one md5 per doc. Nothing
    quadratic — templates are found without comparing any two
    documents."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).localCheckpoint(eager=True)  # df + reassembly both read it
    df_tab = words.groupBy("w").agg(
        F.countDistinct("doc_id").alias("df")
    )
    masked = words.join(F.broadcast(df_tab), "w").select(
        "doc_id",
        "pos",
        F.when(F.col("df") >= 3, F.col("w")).otherwise(F.lit("#")).alias("mw"),
    )
    skel = (
        masked.groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "mw"))),
                        lambda s: s["mw"],
                    ),
                )
            ).alias("skeleton"),
            F.sum(F.when(F.col("mw") != "#", 1).otherwise(0)).alias("_kept"),
            F.count(F.lit(1)).alias("_len"),
        )
        # scaffold guard: a template must KEEP >= half its words — an
        # all-masked skeleton is degenerate (any two same-length
        # all-rare docs collide on '# # ... #')
        .where(F.col("_kept") * 2 >= F.col("_len"))
        .drop("_kept", "_len")
    )
    texts = skel.join(
        d.select("doc_id", F.md5("text").alias("th")), "doc_id"
    )
    return (
        texts.groupBy("skeleton")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("th").alias("n_distinct_texts"),
            F.min("doc_id").alias("example_doc"),
        )
        .where((F.col("n_docs") >= 2) & (F.col("n_distinct_texts") >= 2))
        .orderBy(F.col("n_docs").desc(), "skeleton")
    )


@query(
    "llm_corpus_curation",
    oracle="""
    WITH ok AS (
      SELECT doc_id, text, lang, n_chars
      FROM documents
      WHERE len(string_split(text, ' ')) >= 20
    ),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY md5(text)
    ),
    kept AS (
      SELECT ok.* FROM ok JOIN survivors USING (doc_id)
    ),
    assigned AS (
      SELECT lang,
             CASE WHEN substr(md5(text), 1, 2) < '0a' THEN 'test'
                  WHEN substr(md5(text), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split,
             len(string_split(text, ' ')) AS toks,
             n_chars
      FROM kept
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY split, lang
    """,
)
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass — quality gate → exact dedup →
    leakage-proof split assignment → corpus report — as ONE Catalyst
    plan, proving the K-family operators compose the way the TPC-H
    pipelines prove the warehouse operators do. Stages: length
    filter (>= 20 tokens, pushable predicate), digest-windowed dedup
    with min-doc_id survivor (one shuffle on the digest —
    llm_dedup_exact's shape; a WINDOW, not groupBy + join-back,
    which would scan the corpus twice since this build never reuses
    exchanges — partition size = one duplicate group, small unless
    the corpus holds a mega-duplicated doc, the known salting case),
    content-hash split (zero-shuffle column math, duplicates can't
    straddle splits BECAUSE dedup and split key on the same digest),
    then one partial-aggregated rollup. At 100 TB this whole chain
    is two shuffles: the digest window and the final tiny rollup."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    ok = d.where(F.size(F.split("text", " ")) >= 20)
    kept = (
        ok.withColumn(
            "_min_id", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .where(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )
    prefix = F.substring(F.md5("text"), 1, 2)
    assigned = kept.select(
        "lang",
        F.when(prefix < "0a", "test")
        .when(prefix < "1a", "val")
        .otherwise("train")
        .alias("split"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        "n_chars",
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "llm_domain_mix",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    terms AS (
      SELECT source, n_docs,
             round(pow(CAST(n_docs AS DOUBLE)
                       / CAST(SUM(n_docs) OVER () AS DOUBLE), 0.7), 6)
               AS mix_term
      FROM counts
    )
    SELECT source, n_docs, mix_term,
           mix_term / CAST(SUM(CAST(mix_term AS DECIMAL(18,6))) OVER ()
                           AS DOUBLE) AS mix_weight
    FROM terms
    """,
)
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — temperature-scaled domain mixture: per-source
    sampling weights w_i = p_i^alpha / sum_j p_j^alpha with
    alpha = 0.7 (the multilingual/multi-domain rebalancing rule used
    for training-corpus composition: upweights small domains without
    letting them dominate). The statistic behind "domain mixing" in
    any large-corpus training pipeline.

    Exactness: p_i^0.7 is transcendental, so each term is rounded to
    6 dp BEFORE the normalizing sum (repo determinism rule: never sum
    raw transcendentals across engines); the denominator is a decimal sum
    of those rounded terms, and the final weight is one double
    division — identical in both engines.

    Scale: one groupBy(source) — shuffle carries |domains| rows (tens
    to thousands, never corpus-sized). The |domains|-row aggregate is
    localCheckpoint-ed once (lineage cut: the corpus scan runs
    exactly once even though two global scalars derive from it —
    this Spark build re-executes shared exchange subtrees), and both
    scalars (corpus N, the normalizer) ride as broadcast 1-row
    aggregates over that checkpoint — never an unpartitioned window
    (the engine-wide plan rule tests/test_plans.py enforces on every
    key), never a driver-side .collect()."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("n_docs").alias("corpus_n"))
    term = F.round(
        F.pow(
            F.col("n_docs").cast("double") / F.col("corpus_n").cast("double"),
            F.lit(0.7),
        ),
        6,
    )
    with_term = counts.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", term.alias("mix_term")
    )
    denom = with_term.agg(
        F.sum(F.col("mix_term").cast("decimal(18,6)")).cast("double").alias("mix_denom")
    )
    return with_term.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        "mix_term",
        (F.col("mix_term") / F.col("mix_denom")).alias("mix_weight"),
    )


@query(
    "llm_ngram_topk",
    oracle="""
    WITH g AS (
      SELECT unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2])) AS gram
      FROM documents
    )
    SELECT gram, COUNT(*) AS n_occurrences
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, gram LIMIT 20
    """,
)
def llm_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — corpus-wide top-k word 3-grams by occurrence count
    (vocabulary/corpus statistics: the first step of tokenizer
    training and the frequency table behind contamination and
    boilerplate screens). Tie-break on the gram string makes top-k
    total-ordered.

    Scale: explode grams once (rows proportional to corpus tokens), one
    groupBy(gram) with map-side partial counts, then a global top-20 —
    Catalyst compiles the sort+limit to TakeOrderedAndProject (per-
    partition heaps, 20 rows to the driver; never a global sort)."""
    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.split("text", " ").alias("words"))
        # shingle_array's <3-word fallback emits the whole text as one
        # gram (dedup semantics); this key's oracle generate_series
        # emits NOTHING for such docs — guard so both engines agree on
        # short documents (no fixture doc trips it today; latent drift).
        .where(F.size("words") >= 3)
        .select(F.explode(shingle_array("words", 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "gram")
        .limit(20)
    )


@query(
    "llm_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS n FROM toks GROUP BY w
        ORDER BY n DESC, w LIMIT 50
      )
    ),
    per_doc AS (
      SELECT t.doc_id, t.lang,
             (2 * COUNT(CASE WHEN v.w IS NULL THEN 1 END) * 1000000
              + COUNT(*)) // (2 * COUNT(*)) AS oov_micro
      FROM toks t LEFT JOIN vocab v USING (w)
      GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(oov_micro) AS DOUBLE) / (COUNT(*) * 1000000.0)
             AS mean_oov_rate
    FROM per_doc
    GROUP BY lang
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — tokenizer-vocabulary coverage: build the corpus
    top-50 vocabulary (frequency, tie-broken by the word itself),
    then report each language's mean out-of-vocabulary token rate —
    the acceptance metric run before freezing a tokenizer on a new
    corpus mix (high OOV = the vocab was trained on the wrong
    distribution).

    Shape: explode tokens once per branch, one groupBy(word) for the
    vocab (corpus-bounded — the documented case where a join-back
    beats a window, per the SCALE ledger), vocab rides broadcast into
    a LEFT join, one groupBy(doc), one |langs|-row rollup.

    Determinism (r7 round()-audit): the per-doc rate is an integer
    ratio, so its 6-dp HALF_UP value is computed EXACTLY in integer
    arithmetic — micro-units (2·oov·10⁶ + n) div (2·n), the
    floor((a/b)+½) identity — instead of round()ing the double
    quotient, whose midpoint behavior is the one place Spark
    (HALF_UP on the shortest decimal repr) and DuckDB (std::round on
    x·10⁶ double arithmetic) can disagree. The cross-doc mean then
    sums exact integers and divides once in double — bit-identical
    in both engines with no double→decimal cast anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(50)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    n_toks = F.count(F.lit(1))
    per_doc = (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id", "lang")
        .agg(
            (F.lit(2) * oov * F.lit(1_000_000) + n_toks).alias("_num"),
            (F.lit(2) * n_toks).alias("_den"),
        )
        .select("doc_id", "lang", F.expr("_num div _den").alias("oov_micro"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("oov_micro").cast("double")
            / (F.count(F.lit(1)) * F.lit(1_000_000.0))
        ).alias("mean_oov_rate"),
    )


@query(
    "llm_sample_balanced",
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS min_n FROM counts),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM ranked, m WHERE rn <= min_n
    GROUP BY lang
    """,
)
def llm_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — balanced per-group downsampling: every language
    keeps exactly min-group-size documents, selected by content-hash
    order (md5(text), doc_id) so the sample is deterministic,
    leakage-proof (content decides membership, like llm_split_assign)
    and unbiased by ingest order. The class-balancing step a
    multilingual mixture runs before training when one language
    dominates the crawl.

    Shape: the per-language counts are a tiny checkpoint; min rides
    broadcast; selection is one row_number window partitioned by
    language (bounded partitions). Reported as per-language kept
    count + doc_id checksum."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    )
    min_n = counts.agg(F.min("n").alias("min_n"))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = d.select("doc_id", "lang", F.md5("text").alias("h")).withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.crossJoin(F.broadcast(min_n))
        .where(F.col("rn") <= F.col("min_n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
    )


BPE_SEP = "␟"  # ␟ joins merged symbol names: unambiguous vs raw chars


def bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int = 8
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared BPE training loop (see ``llm_bpe_train`` for the full
    scale rationale). Returns (merge list, final word-form table) —
    the final ``forms`` frame (word, syms, cnt) IS the trained
    tokenizer applied to every vocabulary word, which is exactly what
    ``llm_bpe_encode`` joins back onto the corpus."""
    d = load_table(spark, sf_dir, "documents")
    forms = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", F.split("word", "").alias("syms"), "cnt")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    # r14 (guide §1.2): the loop ran TWO jobs per round — the argmax
    # TakeOrdered AND an eager checkpoint of the merged form table.
    # The vocabulary is bounded and each merge fold is a narrow JVM
    # map, so the checkpoint bought nothing: chain the folds LAZILY
    # over the one checkpointed base table instead. Round r re-runs
    # the r-1 earlier folds over vocab rows (cheap codegen work,
    # quadratic in ROUNDS but rounds is a small constant) and the
    # job count halves; merge results are bit-identical because the
    # fold expressions are unchanged, only their materialization is.
    for rank in range(1, rounds + 1):
        # single-reference let binding (the banded_signature_rows
        # idiom): the old where-size>=2 + ls + rs referenced syms
        # THREE times, and ProjectCollapse would inline the whole
        # lazy fold chain into each site. transform(array(syms),
        # s_ -> ...)[0] evaluates the chain once per row; the where
        # is subsumed — a 1-symbol form yields empty slices, an
        # empty zip, and explode drops the row (same survivors).
        pairs = (
            forms.select(
                "cnt",
                F.explode(
                    F.expr(
                        # explicit size guard, NOT sequence(1, 0):
                        # Spark auto-steps a descending sequence (the
                        # llm_distinct_ngrams lesson) and ANSI mode
                        # errors on the out-of-bounds access
                        "transform(array(syms), s_ -> CASE"
                        " WHEN size(s_) < 2 THEN"
                        "  cast(array() as array<struct<l_:string,r_:string>>)"
                        " ELSE transform(sequence(1, size(s_) - 1),"
                        "  i_ -> struct(s_[i_ - 1] AS l_, s_[i_] AS r_))"
                        " END)[0]"
                    )
                ).alias("p"),
            )
            .groupBy(
                F.col("p.l_").alias("left"), F.col("p.r_").alias("right")
            )
            .agg(F.sum("cnt").alias("n"))
        )
        best = pairs.orderBy(F.col("n").desc(), "left", "right").take(1)
        if not best:
            break
        left, right, n = best[0]["left"], best[0]["right"], best[0]["n"]
        merges.append((rank, left, right, int(n)))
        merged = F.lit(left + BPE_SEP + right)
        forms = forms.withColumn(
            "syms",
            F.aggregate(
                "syms",
                F.expr("cast(array() as array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (x == F.lit(right)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ),
        )
    return merges, forms


@query("llm_bpe_train")  # rows-only: iterative argmax loop, no SQL twin
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — byte-pair-encoding TOKENIZER TRAINING (8 merges)
    over the corpus: the step that turns a curated text corpus into a
    subword vocabulary, upstream of every token-count/packing key in
    this module. Classic word-frequency BPE (Sennrich et al. 2016,
    public): count adjacent symbol pairs weighted by word frequency,
    merge the argmax pair everywhere, repeat. Returns the learned
    merge table (rank, left, right, merged token, weighted count) —
    the model artifact a tokenizer ships.

    Scale shape — the textbook trick makes this corpus-size
    INDEPENDENT after one pass: all rounds operate on the DISTINCT
    word-form table (word → count, vocabulary-bounded, ~10^5-10^6
    rows at any corpus size), never on documents. Per round: one
    explode+groupBy over word forms for pair counts (map-side
    partials), a take-ordered argmax of ONE row to the driver (the
    merge rule is the model parameter — control plane, same pattern
    as k-means centroids), and one higher-order-function fold
    (F.aggregate — JVM codegen, no Python) applying the merge
    greedily left-to-right inside each word form. Frontier
    localCheckpoint-ed per round like every iterative operator here.
    Rows-only by declared contract (iterative argmax has no SQL
    twin); tests/test_llm.py proves the merge table EXACTLY equal to
    a pure-Python reference BPE on the same corpus."""
    merges, _forms = bpe_learn(spark, sf_dir, rounds=8)
    return spark.createDataFrame(
        [
            (rank, left, right, (left + right).replace(BPE_SEP, ""), n)
            for (rank, left, right, n) in merges
        ],
        "rank int, left string, right string, token string, n_occurrences long",
    )


@query("llm_bpe_encode")  # rows-only: applies the data-learned merges
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — apply the trained BPE tokenizer to the corpus
    (train→encode end-to-end): per language, total whitespace words,
    total BPE subword tokens under the 8 learned merges, and the
    compression ratio — the number a tokenizer team watches when
    sizing a vocabulary (more merges → fewer tokens/word → cheaper
    training).

    Scale shape: training already left the final word-form table
    (word → merged symbol array) as a vocabulary-bounded artifact;
    encoding the corpus is then ONE explode of documents to words and
    ONE join-back onto that table — the per-word join-back pattern
    the SCALE ledger prescribes for corpus-bounded keys (a window
    cannot express a vocabulary lookup). No per-document fold ever
    runs over the corpus: subword counts ride on the form table.
    Rows-only (the merges are data-dependent, so no static SQL twin);
    tests/test_llm.py proves exact equality with the pure-Python
    reference tokenizer end-to-end."""
    merges, forms = bpe_learn(spark, sf_dir, rounds=8)
    lookup = forms.select(
        "word", F.size("syms").cast("long").alias("n_sub")
    ).localCheckpoint(eager=True)
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(lookup, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
            F.round(
                F.count(F.lit(1)) / F.sum("n_sub").cast("double"), 6
            ).alias("compression_ratio"),
        )
    )


@query(
    "llm_preference_pairs",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             least(n_words, 200) / 200.0 * 0.4
                  + least(stop_ratio * 4, 1.0) * 0.3
                  + CASE WHEN mean_word_len BETWEEN 3 AND 8
                         THEN 0.3 ELSE 0.0 END AS q
      FROM (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_words,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mean_word_len
        FROM documents
      )
    ),
    ranked AS (
      SELECT doc_id, lang, q,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM scored
    )
    SELECT a.lang,
           a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           a.q - b.q AS score_gap
    FROM ranked a JOIN ranked b
      ON a.lang = b.lang AND b.rn = a.n + 1 - a.rn
    WHERE a.rn < b.rn AND a.q - b.q >= 0.05
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — PREFERENCE-PAIR construction for reward-model /
    DPO training data: within each language, rank documents by the
    Gopher-style quality score and pair rank i with rank n+1−i
    (best↔worst, second-best↔second-worst …), keeping pairs whose
    score gap clears a margin — the deterministic skeleton of
    chosen/rejected mining once the scorer is a real model. Mirrors
    the class-balancing and split-assignment keys: membership is
    decided by content-derived scores and total-ordered ranks, never
    ingest order.

    Scale: one window per language (bounded partitions — the F-family
    contract) and a self-join on (lang, mirrored rank) — equi-join,
    shuffle ∝ corpus, no cross product. The quality composite is one
    shared IEEE expression tree over integer counts (bit-identical
    across engines UNROUNDED — the r7 round()-audit), so ranks, gaps,
    and the margin cut are partition-order independent with no
    rounding anywhere: differences and compares of bit-identical
    doubles are themselves bit-identical."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    stop_ratio = _stop_count(words, _EN_STOP).cast("double") / n_words
    mean_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / n_words
    q = (
        F.least(n_words, F.lit(200)) / 200.0 * 0.4
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
        + F.when(mean_word_len.between(3, 8), 0.3).otherwise(0.0)
    )
    w = Window.partitionBy("lang").orderBy(F.col("q").desc(), "doc_id")
    # materialized once: the self-join below branches on this frame,
    # and this Spark build never reuses shared exchange subtrees
    # (SCALE.md round-4 ledger) — without the checkpoint the scan and
    # both windows would execute twice.
    ranked = d.select("doc_id", "lang", q.alias("q")).select(
        "doc_id",
        "lang",
        "q",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    ).localCheckpoint(eager=True)
    a = ranked.select(
        "lang",
        F.col("doc_id").alias("chosen_id"),
        F.col("q").alias("qa"),
        "rn",
        "n",
    )
    b = ranked.select(
        F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("rejected_id"),
        F.col("q").alias("qb"),
        F.col("rn").alias("rn_b"),
    )
    gap = F.col("qa") - F.col("qb")
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("rn_b") == F.col("n") + 1 - F.col("rn")),
        )
        .where((F.col("rn") < F.col("rn_b")) & (gap >= 0.05))
        .select("lang", "chosen_id", "rejected_id", gap.alias("score_gap"))
    )


def posting_stats_ingest_stream(
    docs_stream: DataFrame,
    stats_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming maintenance of the BM25 posting statistics — the
    state that makes ``llm_bm25_topk``'s "pre-built posting-stats
    table" scale path concrete: as document batches arrive, each
    micro-batch appends per-word PARTIALS (df, tf) and one corpus
    partial (n_docs, sum_dl); readers merge partials by summation
    (``read_posting_stats``). Per-batch work is O(batch), never
    O(corpus) — the agg_incremental_merge contract, streaming
    edition: df/tf/N/Σdl are all sums, so partials merge exactly.

    EXACTLY-ONCE, not just at-least-once: partials are PARTITIONED BY
    the foreachBatch epoch and written with dynamic partition
    overwrite, so a replayed epoch (restart mid-batch) overwrites its
    own partition instead of double-appending — the idempotent-append
    production fix dedup_ingest_stream's docstring names, implemented.
    Assumes upstream batches partition the corpus (each doc arrives
    once — a dedup_ingest_stream stage upstream guarantees it).

    At 100 TB the words table is bucketed by word, so the query-time
    merge groupBy is bucket-local, and periodic compaction
    (``compact_posting_stats`` below — epoch-structure-aware, unlike
    the generic io.compact_snapshot which would flatten the
    partitioning out from under future dynamic-overwrite ingests)
    folds old epochs into one."""

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_posting_batch(batch_df, epoch_id, stats_dir, text_col, id_col)

    return (
        docs_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def ingest_posting_batch(
    batch_df: DataFrame,
    epoch_id: int,
    stats_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One posting-stats micro-batch, module-level so the
    exactly-once claim is TESTABLE: replaying the same (batch,
    epoch) — what a restart after a half-finished foreachBatch does —
    must leave the merged stats unchanged, because each epoch's
    partials land in their own partition under dynamic overwrite."""
    toks = F.split(F.col(text_col), " ")
    exploded = batch_df.select(F.col(id_col), F.explode(toks).alias("word"))
    words = (
        exploded.groupBy("word")
        .agg(
            F.countDistinct(id_col).alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .withColumn("epoch", F.lit(int(epoch_id)))
    )
    corpus = batch_df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("sum_dl"),
    ).withColumn("epoch", F.lit(int(epoch_id)))
    for df, sub in ((words, "words"), (corpus, "corpus")):
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(f"{stats_dir}/{sub}")
        )


def read_posting_stats(spark: SparkSession, stats_dir: str):
    """Merge the appended partials: (word → df, tf) plus the corpus
    scalars (n_docs, avgdl). Sums of exact longs — order-independent,
    partial/final-safe by construction."""
    words = (
        spark.read.parquet(f"{stats_dir}/words")
        .groupBy("word")
        .agg(F.sum("df").alias("df"), F.sum("tf").alias("tf"))
    )
    corpus = spark.read.parquet(f"{stats_dir}/corpus").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").alias("sum_dl"),
    )
    return words, corpus


@query(
    "llm_eval_prf",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                  WHEN de_hits >= fr_hits THEN 'de'
                  ELSE 'fr' END AS predicted_lang
      FROM (
        SELECT lang,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ({_sql_list(_EN_STOP)}))) AS en_hits,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ({_sql_list(_DE_STOP)}))) AS de_hits,
               len(list_filter(string_split(text, ' '),
                               w -> w IN ({_sql_list(_FR_STOP)}))) AS fr_hits
        FROM documents
      )
    ),
    per AS (
      SELECT c.cls,
             SUM(CASE WHEN lang = c.cls AND predicted_lang = c.cls
                      THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN predicted_lang = c.cls THEN 1 ELSE 0 END) AS pred_n,
             SUM(CASE WHEN lang = c.cls THEN 1 ELSE 0 END) AS support
      FROM pred, (SELECT unnest(['en', 'de', 'fr']) AS cls) c
      GROUP BY c.cls
    )
    SELECT cls AS lang,
           CAST(tp AS BIGINT) AS tp,
           CAST(pred_n AS BIGINT) AS predicted_n,
           CAST(support AS BIGINT) AS support,
           CASE WHEN pred_n > 0
                THEN CAST(tp AS DOUBLE) / pred_n END AS prec,
           CASE WHEN support > 0
                THEN CAST(tp AS DOUBLE) / support END AS rec,
           CASE WHEN pred_n > 0 AND support > 0
                AND (CAST(tp AS DOUBLE) / pred_n
                     + CAST(tp AS DOUBLE) / support) > 0
                THEN 2.0 * (CAST(tp AS DOUBLE) / pred_n)
                     * (CAST(tp AS DOUBLE) / support)
                     / (CAST(tp AS DOUBLE) / pred_n
                        + CAST(tp AS DOUBLE) / support) END AS f1
    FROM per
    """,
)
def llm_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r8) — classifier EVALUATION as a relational op:
    per-class precision/recall/F1 of the stopword lang-ID heuristic
    (llm_lang_id) against the fixture's ground-truth lang column —
    the eval leg every curation pipeline needs beside its filters
    (is the language gate actually right before it drops documents?).

    Determinism: the confusion cells are exact integer sums;
    precision/recall are single IEEE divisions of exact ints and F1
    is one shared expression tree over those identical doubles —
    everything emits unrounded, bit-exact. Degenerate classes
    (nothing predicted / no support) yield NULL in BOTH engines via
    explicit guards (Spark would otherwise produce NaN from 0/0
    where DuckDB produces NULL — the pipeline_value_anomalies
    lesson).

    Scale: one corpus pass for the per-doc argmax, then the
    confusion matrix is a (classes x classes)-bounded aggregate —
    output is O(classes), never O(corpus)."""
    pred = llm_lang_id(spark, sf_dir)
    classes = ["en", "de", "fr"]
    per = pred.select(
        "lang",
        "predicted_lang",
        F.explode(F.array(*[F.lit(c) for c in classes])).alias("cls"),
    ).groupBy("cls").agg(
        F.sum(
            F.when(
                (F.col("lang") == F.col("cls"))
                & (F.col("predicted_lang") == F.col("cls")),
                1,
            ).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(F.col("predicted_lang") == F.col("cls"), 1).otherwise(0)
        ).alias("pred_n"),
        F.sum(F.when(F.col("lang") == F.col("cls"), 1).otherwise(0)).alias(
            "support"
        ),
    )
    prec = F.when(
        F.col("pred_n") > 0, F.col("tp").cast("double") / F.col("pred_n")
    )
    rec = F.when(
        F.col("support") > 0, F.col("tp").cast("double") / F.col("support")
    )
    f1 = F.when(
        (F.col("pred_n") > 0) & (F.col("support") > 0) & ((prec + rec) > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return per.select(
        F.col("cls").alias("lang"),
        F.col("tp").cast("long").alias("tp"),
        F.col("pred_n").cast("long").alias("predicted_n"),
        F.col("support").cast("long").alias("support"),
        prec.alias("prec"),
        rec.alias("rec"),
        f1.alias("f1"),
    )


@query(
    "llm_eval_calibration",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-(-1.0
               + 2.5 * (least(n_words, 200) / 200.0)
               + 1.5 * stop_ratio
               + 0.8 * (CASE WHEN mean_word_len BETWEEN 3 AND 8
                             THEN 1.0 ELSE 0.0 END)))), 6) AS p_keep
      FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mean_word_len
        FROM documents
      )
    ),
    ref AS (
      SELECT doc_id,
             (least(n_words, 200) / 200.0 * 0.4
              + least(stop_ratio * 4, 1.0) * 0.3
              + CASE WHEN mean_word_len BETWEEN 3 AND 8
                     THEN 0.3 ELSE 0.0 END) >= 0.5 AS ref_keep
      FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mean_word_len
        FROM documents
      )
    )
    SELECT CAST(least(floor(p_keep * 10), 9) AS INT) AS bin,
           COUNT(*) AS n,
           CAST(SUM(CAST(p_keep AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_pred,
           CAST(SUM(CASE WHEN ref_keep THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS obs_rate
    FROM scored JOIN ref USING (doc_id)
    GROUP BY 1
    """,
)
def llm_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r8) — calibration curve (reliability diagram data)
    for the learned quality filter: bin documents by the logit
    model's predicted keep-probability (deciles of the 6-dp-rounded
    p_keep) and compare the bin's mean prediction against the
    observed keep rate under the REFERENCE heuristic
    (llm_quality_score >= 0.5) — the is-my-filter-overconfident
    check run before trusting a model-based gate at corpus scale.

    Determinism: p_keep is the already-6-dp value from the
    llm_quality_logit recipe, so its decimal cast is EXACT and the
    per-bin mean is an order-independent decimal sum; the bin id is
    floor(p*10) on identical doubles; the observed rate is an exact
    integer ratio. The reference keep decision compares the
    unrounded shared-IEEE-tree quality score — identical in both
    engines (the r7 unrounded-emission migration).

    Scale: ONE corpus pass, literally — both scores derive from the
    same three features (n_words, stop_ratio, mean_word_len), so
    they are computed in one zero-shuffle projection instead of
    running the two scoring keys separately and join-ing corpus-wide
    on doc_id (this build never reuses shared exchange subtrees —
    that shape would be two full scans plus a corpus shuffle for
    per-row values derivable from the same row; r8 review finding).
    Output is O(bins)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    stop_ratio = _stop_count(words, _EN_STOP).cast("double") / n_words
    mean_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / n_words
    logit = (
        F.lit(-1.0)
        + 2.5 * (F.least(n_words, F.lit(200)) / 200.0)
        + 1.5 * stop_ratio
        + 0.8 * F.when(mean_word_len.between(3, 8), 1.0).otherwise(0.0)
    )
    p_keep = F.round(1.0 / (1.0 + F.exp(-logit)), 6)
    quality = (
        F.least(n_words, F.lit(200)) / 200.0 * 0.4
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
        + F.when(mean_word_len.between(3, 8), 0.3).otherwise(0.0)
    )
    binned = d.select(
        F.least(F.floor(p_keep * 10), F.lit(9)).cast("int").alias("bin"),
        p_keep.alias("p_keep"),
        (quality >= 0.5).alias("ref_keep"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("p_keep").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_pred"),
        (
            F.sum(F.when(F.col("ref_keep"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("obs_rate"),
    )


@query(
    "llm_eval_auc",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len
      FROM documents
    ),
    labeled AS (
      SELECT round(1.0 / (1.0 + exp(-(-1.0
               + 2.5 * (least(n_words, 200) / 200.0)
               + 1.5 * stop_ratio
               + 0.8 * (CASE WHEN mean_word_len BETWEEN 3 AND 8
                             THEN 1.0 ELSE 0.0 END)))), 6) AS s,
             (least(n_words, 200) / 200.0 * 0.4
              + least(stop_ratio * 4, 1.0) * 0.3
              + CASE WHEN mean_word_len BETWEEN 3 AND 8
                     THEN 0.3 ELSE 0.0 END) >= 0.5 AS y
      FROM feats
    ),
    by_score AS (
      SELECT s,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS neg
      FROM labeled GROUP BY s
    ),
    cum AS (
      SELECT s, pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_before
      FROM by_score
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(COUNT(*) AS BIGINT) AS n_scores,
           CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0
                THEN CAST(SUM(pos * (2 * neg_before + neg)) AS DOUBLE)
                     / (2.0 * CAST(SUM(pos) AS DOUBLE)
                        * CAST(SUM(neg) AS DOUBLE)) END AS auc
    FROM cum
    """,
)
def llm_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — ROC-AUC of the learned quality filter
    (llm_quality_logit's keep-probability) against the reference
    heuristic label (llm_quality_score >= 0.5), completing the eval
    triad beside llm_eval_prf (thresholded) and llm_eval_calibration
    (probability quality). AUC is computed EXACTLY via the rank-sum
    identity with midrank tie handling: group by distinct score,
    then AUC = Σ_s pos_s·(neg_below_s + neg_s/2) / (P·N) — kept in
    integers as Σ pos·(2·neg_below + neg) / (2·P·N), so the only
    float op is the final division of exact longs (no transcendental
    in the statistic at all; the score itself is the proven 6-dp
    calibration recipe, identical doubles in both engines).

    Scale: one corpus pass groups to DISTINCT scores — the 6-dp
    score space is value-bounded (≤1e6+1 rows), so the cumulative-
    negatives pass runs over a bounded table, never the corpus. The
    cumulative itself uses the pipeline_gini/zipf bucket-offset
    pattern (value-range buckets → per-bucket parallel windows +
    ≤8 collected offset rows), keeping the no-global-window rule
    unconditional even though the input is bounded. The integer
    numerator fits a long up to ~2·10⁹ documents; past that, cast
    the per-score product to decimal(38,0) before the sum (noted
    rather than paid: the product stays JVM-side either way).
    Output is ONE row."""

    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    stop_ratio = _stop_count(words, _EN_STOP).cast("double") / n_words
    mean_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / n_words
    logit = (
        F.lit(-1.0)
        + 2.5 * (F.least(n_words, F.lit(200)) / 200.0)
        + 1.5 * stop_ratio
        + 0.8 * F.when(mean_word_len.between(3, 8), 1.0).otherwise(0.0)
    )
    s = F.round(1.0 / (1.0 + F.exp(-logit)), 6)
    y = (
        F.least(n_words, F.lit(200)) / 200.0 * 0.4
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
        + F.when(mean_word_len.between(3, 8), 0.3).otherwise(0.0)
    ) >= 0.5
    by_score = (
        d.select(s.alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("pos"),
            F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("neg"),
        )
        .localCheckpoint(eager=True)  # bounded (≤1e6 rows); 2 consumers
    )
    from osm_airflow_spark.bucketing import bucketed_running

    out, _ = bucketed_running(by_score, "s", ["neg"])
    cum = out.select(
        "pos",
        "neg",
        (F.col("run_neg") - F.col("neg")).alias("neg_before"),
    )
    p_tot, n_tot = F.sum("pos"), F.sum("neg")
    return cum.agg(
        p_tot.cast("long").alias("n_pos"),
        n_tot.cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.when(
            (p_tot > 0) & (n_tot > 0),
            F.sum(
                F.col("pos") * (2 * F.col("neg_before") + F.col("neg"))
            ).cast("double")
            / (2.0 * p_tot.cast("double") * n_tot.cast("double")),
        ).alias("auc"),
    )


def _bleu_grams_sql(arr: str, n: int) -> str:
    """Prefixed n-gram list over a SQL array expression, EMPTY for
    arrays shorter than n (the llm_distinct_ngrams descending-
    sequence lesson: never let generate_series see stop < start)."""
    if n == 1:
        body = f"list_transform({arr}, x -> '1|' || x)"
        return body
    joined = " || ' ' || ".join(f"{arr}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({arr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({arr}) - {n - 1}), "
        f"i -> '{n}|' || {joined.replace(f'{arr}[i + 0]', f'{arr}[i]')}) "
        f"ELSE [] END"
    )


def _bleu_grams(col: Column, n: int) -> Column:
    """Spark twin of :func:`_bleu_grams_sql` — same guard, same
    1-based indexing, same 'n|' prefix."""
    if n == 1:
        return F.transform(col, lambda x: F.concat(F.lit("1|"), x))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(col) - (n - 1)),
        lambda i: F.concat(
            F.lit(f"{n}|"),
            F.concat_ws(
                " ", *[F.element_at(col, i + j) for j in range(n)]
            ),
        ),
    )
    return F.when(F.size(col) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


_BLEU_CAND_SQL = (
    "list_transform(list_filter(generate_series(1, len(rw)), "
    "i -> i % 7 <> 0), i -> rw[i])"
)


@query(
    "llm_eval_bleu",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS rw FROM documents
    ),
    pair AS (
      SELECT doc_id, rw, {_BLEU_CAND_SQL} AS cw FROM base
    ),
    lens AS (
      SELECT COUNT(*) AS n_docs,
             SUM(len(rw)) AS ref_len,
             SUM(len(cw)) AS cand_len,
             SUM(greatest(len(cw) - 0, 0)) AS t1,
             SUM(greatest(len(cw) - 1, 0)) AS t2,
             SUM(greatest(len(cw) - 2, 0)) AS t3,
             SUM(greatest(len(cw) - 3, 0)) AS t4
      FROM pair
    ),
    cg AS (
      SELECT doc_id, gram, COUNT(*) AS c_cnt
      FROM (
        SELECT doc_id,
               unnest({" || ".join(_bleu_grams_sql("cw", n) for n in (1, 2, 3, 4))})
                 AS gram
        FROM pair
      ) GROUP BY doc_id, gram
    ),
    rg AS (
      SELECT doc_id, gram, COUNT(*) AS r_cnt
      FROM (
        SELECT doc_id,
               unnest({" || ".join(_bleu_grams_sql("rw", n) for n in (1, 2, 3, 4))})
                 AS gram
        FROM base
      ) GROUP BY doc_id, gram
    ),
    m AS (
      SELECT SUM(CASE WHEN substr(gram, 1, 1) = '1'
                      THEN least(c_cnt, r_cnt) ELSE 0 END) AS m1,
             SUM(CASE WHEN substr(gram, 1, 1) = '2'
                      THEN least(c_cnt, r_cnt) ELSE 0 END) AS m2,
             SUM(CASE WHEN substr(gram, 1, 1) = '3'
                      THEN least(c_cnt, r_cnt) ELSE 0 END) AS m3,
             SUM(CASE WHEN substr(gram, 1, 1) = '4'
                      THEN least(c_cnt, r_cnt) ELSE 0 END) AS m4
      FROM cg JOIN rg USING (doc_id, gram)
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(cand_len AS BIGINT) AS cand_tokens,
           CAST(ref_len AS BIGINT) AS ref_tokens,
           CAST(m1 AS DOUBLE) / t1 AS p1,
           CAST(m2 + 1 AS DOUBLE) / (t2 + 1) AS p2,
           CAST(m3 + 1 AS DOUBLE) / (t3 + 1) AS p3,
           CAST(m4 + 1 AS DOUBLE) / (t4 + 1) AS p4,
           CASE WHEN m1 > 0 AND t4 > 0 THEN
             least(0.0, 1.0 - CAST(ref_len AS DOUBLE) / cand_len)
             + (round(ln(CAST(m1 AS DOUBLE) / t1), 6)
                + round(ln(CAST(m2 + 1 AS DOUBLE) / (t2 + 1)), 6)
                + round(ln(CAST(m3 + 1 AS DOUBLE) / (t3 + 1)), 6)
                + round(ln(CAST(m4 + 1 AS DOUBLE) / (t4 + 1)), 6)) / 4.0
           END AS log_bleu,
           CASE WHEN m1 > 0 AND t4 > 0 THEN
             round(exp(
               least(0.0, 1.0 - CAST(ref_len AS DOUBLE) / cand_len)
               + (round(ln(CAST(m1 AS DOUBLE) / t1), 6)
                  + round(ln(CAST(m2 + 1 AS DOUBLE) / (t2 + 1)), 6)
                  + round(ln(CAST(m3 + 1 AS DOUBLE) / (t3 + 1)), 6)
                  + round(ln(CAST(m4 + 1 AS DOUBLE) / (t4 + 1)), 6)) / 4.0
             ), 6)
           END AS bleu
    FROM lens, m
    """,
)
def llm_eval_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — corpus BLEU-4 (Papineni et al. 2002) as a
    relational op: candidate = each document with every 7th word
    dropped (a deterministic stand-in for generated output — in a
    real eval the candidate column comes from the model), reference
    = the full text. Clipped n-gram precision for n=1..4 with
    add-one smoothing on n≥2 (Lin & Och's smoothing-1 shape), a
    brevity penalty in log space, and ONE final exp. The
    generation-eval leg beside the retrieval (llm_eval_rank_metrics)
    and classification (llm_eval_prf/auc) legs.

    Determinism: every count is an exact integer (clipped matches =
    Σ min(cand_count, ref_count) over per-doc gram multisets via
    explode→groupBy→join, never a per-row O(len²) lambda); each
    ln() of an exact-int ratio is rounded to 6 dp at the
    transcendental; their mean plus the exact brevity-penalty term
    is a shared IEEE tree emitted unrounded as log_bleu, and the
    final exp() — libm, so never comparable raw across engines — is
    rounded to 6 dp at emission (the llm_quality_logit sigmoid
    precedent). Gram builders guard short arrays explicitly (the
    llm_distinct_ngrams descending-sequence lesson); degenerate
    corpora (no unigram match / no 4-gram slots) emit NULL BLEU in
    both engines. NULL-guard edge (ADVICE r14, latent — any non-NULL
    text yields ≥1 unigram so fixtures can't reach it): on a corpus
    where EVERY text is NULL the counts table is empty and the
    side-tagged totals (t_n / ref_len / cand_len, and rouge/chrf's
    twins) become NULL where the pre-r14 lens aggregate emitted 0 —
    if these keys are ever exposed to arbitrary corpora, wrap those
    sums in coalesce(..., 0) to restore the empty-corpus zeros.

    Scale: ONE corpus text pass (r14, guide §2.3/§2.4: candidate and
    reference multisets count in a single explode and a single
    (doc_id, gram) exchange carrying a side flag; the slot totals
    t_n, ref_len and cand_len are side-tagged sums over that same
    counts table, so the old length-totals re-scan is gone — only
    n_docs touches the table again, as a doc_id-only count), volume
    ∝ corpus grams — the llm_contamination_check shape, linear,
    never pairwise. The n marker rides IN the gram string so all
    four orders share one explode. Uses
    explode_outer + null post-filter, NOT explode — Catalyst's
    InferFiltersFromGenerate would otherwise inline the gram-build
    lambda into an inferred pre-filter and cube the per-row cost
    (the measured r9 trap, SCALE.md)."""
    d = load_table(spark, sf_dir, "documents")
    # r14 second pass (guide §2.3): the old lens aggregate re-read and
    # re-tokenized the whole corpus just to count gram SLOTS — but the
    # builders emit exactly max(len - n + 1, 0) grams per doc, so every
    # total (t_n, ref_len = reference unigrams, cand_len = candidate
    # unigrams) is the side-tagged SUM over the very counts table the
    # clipped matches come from: one text scan per key, not two. Only
    # n_docs still needs the table, as a doc_id-only count.
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))

    # r14 (guide §2.3/§2.4): candidate and reference gram multisets
    # count in ONE corpus pass — each gram rides a side flag, one
    # (doc_id, gram) exchange carries both counts, and the old
    # cg ⋈ rg join disappears. Inner-join semantics are preserved
    # exactly: a gram missing on either side gets a zero count and
    # least(c, 0) = 0, so every m_n sum is the identical integer.
    # r15: rw/cw become Project ATTRIBUTES under the Generate (the
    # chrf pattern) — identical grams, but the gram lambdas read the
    # tokenized arrays O(1) instead of re-inlining (and, interpreted,
    # re-evaluating per ELEMENT) the split/filter source trees.
    def side_grams(arr: Column, is_cand: bool) -> Column:
        allg = F.concat(*[_bleu_grams(arr, n) for n in (1, 2, 3, 4)])
        return F.transform(
            allg,
            lambda g: F.struct(g.alias("gram"), F.lit(is_cand).alias("is_c")),
        )

    base = d.select("doc_id", F.split("text", " ").alias("rw")).select(
        "doc_id",
        "rw",
        F.filter("rw", lambda x, i: ((i + F.lit(1)) % 7) != 0).alias("cw"),
    )
    counts = (
        base.select(
            "doc_id",
            F.explode_outer(
                F.concat(
                    side_grams(F.col("cw"), True),
                    side_grams(F.col("rw"), False),
                )
            ).alias("sg"),
        )
        .where(F.col("sg").isNotNull())
        .groupBy("doc_id", F.col("sg.gram").alias("gram"))
        .agg(
            F.sum(F.when(F.col("sg.is_c"), 1).otherwise(0)).alias("c_cnt"),
            F.sum(F.when(~F.col("sg.is_c"), 1).otherwise(0)).alias("r_cnt"),
        )
    )
    clipped = F.least(F.col("c_cnt"), F.col("r_cnt"))
    marker = F.substring("gram", 1, 1)
    m = counts.agg(
        *[
            F.sum(F.when(marker == str(n), clipped).otherwise(0))
            .cast("long")
            .alias(f"m{n}")
            for n in (1, 2, 3, 4)
        ],
        *[
            F.sum(F.when(marker == str(n), F.col("c_cnt")).otherwise(0))
            .cast("long")
            .alias(f"t{n}")
            for n in (1, 2, 3, 4)
        ],
        F.sum(F.when(marker == "1", F.col("r_cnt")).otherwise(0))
        .cast("long")
        .alias("ref_len"),
    ).withColumn("cand_len", F.col("t1"))
    p1 = F.col("m1").cast("double") / F.col("t1")
    ps = {1: p1}
    for n in (2, 3, 4):
        ps[n] = (F.col(f"m{n}") + 1).cast("double") / (F.col(f"t{n}") + 1)
    log_mean = (
        F.round(F.log(ps[1]), 6)
        + F.round(F.log(ps[2]), 6)
        + F.round(F.log(ps[3]), 6)
        + F.round(F.log(ps[4]), 6)
    ) / 4.0
    bp_log = F.least(
        F.lit(0.0),
        1.0 - F.col("ref_len").cast("double") / F.col("cand_len"),
    )
    ok = (F.col("m1") > 0) & (F.col("t4") > 0)
    log_bleu = F.when(ok, bp_log + log_mean)
    return nd.crossJoin(F.broadcast(m)).select(
        "n_docs",
        F.col("cand_len").alias("cand_tokens"),
        F.col("ref_len").alias("ref_tokens"),
        p1.alias("p1"),
        ps[2].alias("p2"),
        ps[3].alias("p3"),
        ps[4].alias("p4"),
        log_bleu.alias("log_bleu"),
        F.when(ok, F.round(F.exp(bp_log + log_mean), 6)).alias("bleu"),
    )


# shared gain/discount term for DCG — identical shape in Spark and SQL:
# exact-int gain (2^grade - 1 via CASE) divided by the 6-dp-rounded
# transcendental log2(rank+1), the quotient re-rounded to 6 dp so the
# per-position terms are decimal-summable order-independently.
_NDCG_GAIN_SQL = (
    "CASE {g} WHEN 3 THEN 7.0 WHEN 2 THEN 3.0 WHEN 1 THEN 1.0 ELSE 0.0 END"
)


def _dcg_term_sql(grade_expr: str, rank_expr: str) -> str:
    gain = _NDCG_GAIN_SQL.format(g=grade_expr)
    return (
        f"CAST(round(({gain}) / round(log2(CAST({rank_expr} AS DOUBLE) + 1.0), 6), 6)"
        " AS DECIMAL(18,6))"
    )


def _dcg_term(grade: Column, rank: Column) -> Column:
    gain = (
        F.when(grade == 3, 7.0)
        .when(grade == 2, 3.0)
        .when(grade == 1, 1.0)
        .otherwise(0.0)
    )
    return F.round(
        gain / F.round(F.log2(rank.cast("double") + 1.0), 6), 6
    ).cast("decimal(18,6)")


@query(
    "llm_eval_rank_metrics",
    oracle=f"""
    WITH {BM25_SQL_CTE},
    graded AS (
      SELECT s.doc_id, s.bm25,
             (CASE WHEN d.tf0 > 0 THEN 1 ELSE 0 END
              + CASE WHEN d.tf1 > 0 THEN 1 ELSE 0 END
              + CASE WHEN d.tf2 > 0 THEN 1 ELSE 0 END) AS grade
      FROM bm25_scored s JOIN d USING (doc_id)
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs,
             SUM(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS n_rel,
             SUM(CASE WHEN grade = 3 THEN 1 ELSE 0 END) AS g3,
             SUM(CASE WHEN grade = 2 THEN 1 ELSE 0 END) AS g2,
             SUM(CASE WHEN grade = 1 THEN 1 ELSE 0 END) AS g1
      FROM graded
    ),
    top AS (
      SELECT doc_id, grade,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rnk
      FROM graded ORDER BY bm25 DESC, doc_id LIMIT 20
    ),
    tstats AS (
      SELECT COUNT(*) AS n_retrieved,
             SUM(CASE WHEN grade >= 2 THEN 1 ELSE 0 END) AS n_rel_top,
             MIN(CASE WHEN grade >= 2 THEN rnk END) AS first_rel,
             SUM({_dcg_term_sql('grade', 'rnk')}) AS dcg_dec
      FROM top
    ),
    ideal AS (
      SELECT SUM({_dcg_term_sql('ig', 'r')}) AS idcg_dec
      FROM (
        SELECT r,
               CASE WHEN r <= g3 THEN 3
                    WHEN r <= g3 + g2 THEN 2
                    WHEN r <= g3 + g2 + g1 THEN 1
                    ELSE 0 END AS ig
        FROM corpus,
             unnest(generate_series(1, CAST(least(20, n_docs) AS INT))) AS t(r)
      )
    )
    SELECT CAST(n_retrieved AS BIGINT) AS n_retrieved,
           CAST(n_rel_top AS BIGINT) AS n_rel_top,
           CAST(n_rel AS BIGINT) AS n_rel_corpus,
           CAST(n_rel_top AS DOUBLE) / n_retrieved AS prec_at_k,
           CASE WHEN n_rel > 0
                THEN CAST(n_rel_top AS DOUBLE) / n_rel END AS rec_at_k,
           COALESCE(1.0 / first_rel, 0.0) AS mrr,
           CAST(dcg_dec AS DOUBLE) AS dcg_at_k,
           CAST(idcg_dec AS DOUBLE) AS idcg_at_k,
           CASE WHEN CAST(idcg_dec AS DOUBLE) > 0
                THEN CAST(dcg_dec AS DOUBLE) / CAST(idcg_dec AS DOUBLE)
                END AS ndcg_at_k
    FROM tstats, corpus, ideal
    """,
)
def llm_eval_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — RETRIEVAL evaluation as a relational op:
    nDCG@20, MRR, precision@20 and recall@20 of the BM25 ranking
    (llm_bm25_topk's scoring tree) against a graded relevance label
    derived from the query itself — grade = how many of the 3 query
    terms the document contains (Järvelin & Kekäläinen's graded-gain
    nDCG, gain 2^g − 1). The eval leg of the retrieval stack: before
    trusting llm_hybrid_rrf's fusion at corpus scale you measure each
    arm's ranking quality, and these four numbers are the standard
    report.

    Determinism: the ranking is the proven bit-identical BM25 tree
    (ties by doc_id); ranks come from a 20×20 broadcast join-rank
    (1 + count of strictly-better rows — the llm_hybrid_rrf pattern,
    no global window); every DCG position term divides an EXACT gain
    by the 6-dp-rounded log2 and re-rounds to 6 dp, so the per-rank
    terms are identical decimals in both engines and their sum is
    order-independent (the transcendental-sum recipe). IDCG needs no
    global sort: the ideal ranking is fully determined by the corpus
    grade COUNTS (g3/g2/g1 — a 1-row aggregate), unrolled over a
    ≤20-position spine. prec/rec/mrr are single IEEE divisions of
    exact ints with NULL/zero guards mirrored in both engines.

    Scale: two corpus passes (the 1-row stats aggregate — checkpointed
    because THREE consumers read it and this build never reuses
    exchange subtrees — and the scoring scan), then everything
    downstream is ≤20 rows of control plane. Output is ONE row —
    at 100 TB swap the inline stats for the posting-stats index
    exactly as bm25_from_index does and the eval still costs one
    scoring scan."""
    d = load_table(spark, sf_dir, "documents")
    docs = _bm25_doc_stats(d, _BM25_TERMS)
    grade = (
        sum(
            F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
            for i in range(len(_BM25_TERMS))
        )
    ).alias("grade")
    g = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum(F.col("dl").cast("long")).cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                sum(
                    F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
                    for i in range(len(_BM25_TERMS))
                )
                >= 2,
                1,
            ).otherwise(0)
        ).alias("n_rel"),
        *[
            F.sum(
                F.when(
                    sum(
                        F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
                        for i in range(len(_BM25_TERMS))
                    )
                    == gval,
                    1,
                ).otherwise(0)
            ).alias(f"g{gval}")
            for gval in (3, 2, 1)
        ],
    ).localCheckpoint(eager=True)  # 1 row; three consumers below
    scored = _bm25_apply(docs, g, len(_BM25_TERMS), extra=(grade,))
    top = (
        scored.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
        .localCheckpoint(eager=True)  # 20 rows; rank self-join + agg
    )
    b = top.select(F.col("doc_id").alias("_ob"), F.col("bm25").alias("_sb"))
    ahead = (F.col("_sb") > F.col("bm25")) | (
        (F.col("_sb") == F.col("bm25")) & (F.col("_ob") < F.col("doc_id"))
    )
    ranked = (
        top.join(F.broadcast(b), ahead, "left")
        .groupBy("doc_id", "grade")
        .agg((F.count("_ob") + 1).cast("long").alias("rnk"))
    )
    tstats = ranked.agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.sum(F.when(F.col("grade") >= 2, 1).otherwise(0)).alias("n_rel_top"),
        F.min(F.when(F.col("grade") >= 2, F.col("rnk"))).alias("first_rel"),
        F.sum(_dcg_term(F.col("grade"), F.col("rnk"))).alias("dcg_dec"),
    )
    # guard the spine for n_docs = 0: Spark's sequence(1, 0) is the
    # DESCENDING [1, 0] (the llm_distinct_ngrams lesson) while the
    # oracle's generate_series(1, 0) is empty — explode an empty
    # array instead so both engines emit NULL IDCG on an empty corpus
    spine = g.select(
        "g3",
        "g2",
        "g1",
        F.explode(
            F.when(
                F.col("n_docs") >= 1,
                F.sequence(
                    F.lit(1), F.least(F.lit(20), F.col("n_docs").cast("int"))
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("r"),
    )
    ig = (
        F.when(F.col("r") <= F.col("g3"), 3)
        .when(F.col("r") <= F.col("g3") + F.col("g2"), 2)
        .when(F.col("r") <= F.col("g3") + F.col("g2") + F.col("g1"), 1)
        .otherwise(0)
    )
    ideal = spine.agg(F.sum(_dcg_term(ig, F.col("r"))).alias("idcg_dec"))
    dcg_d = F.col("dcg_dec").cast("double")
    idcg_d = F.col("idcg_dec").cast("double")
    return (
        tstats.crossJoin(F.broadcast(ideal))
        .crossJoin(F.broadcast(g.select("n_rel")))
        .select(
            F.col("n_retrieved").cast("long").alias("n_retrieved"),
            F.col("n_rel_top").cast("long").alias("n_rel_top"),
            F.col("n_rel").cast("long").alias("n_rel_corpus"),
            (
                F.col("n_rel_top").cast("double") / F.col("n_retrieved")
            ).alias("prec_at_k"),
            F.when(
                F.col("n_rel") > 0,
                F.col("n_rel_top").cast("double") / F.col("n_rel"),
            ).alias("rec_at_k"),
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)).alias(
                "mrr"
            ),
            dcg_d.alias("dcg_at_k"),
            idcg_d.alias("idcg_at_k"),
            F.when(idcg_d > 0, dcg_d / idcg_d).alias("ndcg_at_k"),
        )
    )


@query(
    "llm_char_entropy",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_exact,
           round(ln(CAST(length(text) AS DOUBLE)), 6)
             - CAST(list_sum(list_transform(
                 list_distinct(string_split(text, '')),
                 c -> CAST(len(list_filter(string_split(text, ''),
                                           x -> x = c)) AS DECIMAL(10,0))
                      * CAST(round(ln(CAST(len(list_filter(
                              string_split(text, ''), x -> x = c))
                            AS DOUBLE)), 6) AS DECIMAL(18,6))))
               AS DOUBLE) / length(text) AS entropy
    FROM documents
    """,
)
def llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r8) — per-document character-level Shannon entropy,
    the classic boilerplate/garbage screen (repetitive or
    low-alphabet text scores low; encrypted/binary-ish junk scores
    near the alphabet ceiling). Uses the identity
    H = ln n − (Σ c·ln c)/n over per-character counts so every
    input to the transcendental is an exact INTEGER: each ln(count)
    rounds to 6 dp (the libm-absorb rule), count·round is an exact
    decimal, and the sum runs in DECIMAL — order-independent, which
    matters because Spark's array_distinct and DuckDB's
    list_distinct enumerate the alphabet in different orders. The
    final H is one shared IEEE tree over agreed doubles, emitted
    unrounded.

    Scale: entirely in-column (distinct-alphabet × length work per
    row, alphabet is small by nature) — no explode, no shuffle,
    whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    cs = F.split("text", "")
    n = F.length("text")
    term = lambda cnt: (
        cnt.cast("decimal(10,0)")
        * F.round(F.log(cnt.cast("double")), 6).cast("decimal(18,6)")
    ).cast("decimal(28,6)")
    sum_clnc = F.aggregate(
        F.transform(
            F.array_distinct(cs),
            lambda c: term(F.size(F.filter(cs, lambda x: x == c))),
        ),
        F.lit(0).cast("decimal(28,6)"),
        lambda a, x: (a + x).cast("decimal(28,6)"),
    )
    entropy = (
        F.round(F.log(n.cast("double")), 6)
        - sum_clnc.cast("double") / n
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_chars_exact"),
        entropy.alias("entropy"),
    )


@query(
    "llm_distinct_ngrams",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             len(string_split(text, ' ')) - 1 AS n_bigrams,
             len(list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' '
                    || string_split(text, ' ')[i+1]))) AS d_bigrams
      FROM documents
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(d_bigrams AS BIGINT) AS distinct_bigrams,
           CASE WHEN n_bigrams > 0
                THEN CAST(d_bigrams AS DOUBLE) / n_bigrams END
             AS distinct_ratio
    FROM g
    """,
)
def llm_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r8) — distinct-n diversity (distinct-2 here): the
    share of a document's word bigrams that are unique — the standard
    repetitiveness/diversity statistic for generated-text QA and
    template detection (low distinct-2 = the doc loops on itself;
    llm_repetition_ratio measures the complementary top-gram mass).
    Exact integer counts, one IEEE division, NULL-guarded for
    single-word docs identically in both engines. Entirely
    in-column — no shuffle.

    Short-doc guard (r9, ADVICE fix): ``sequence(1, 0)`` in Spark is
    the DESCENDING array ``[1, 0]`` — the r8 form
    ``sequence(1, greatest(size-1, 0))`` therefore CRASHED
    (INVALID_ARRAY_INDEX_IN_ELEMENT_AT) on any single-word document
    instead of returning 0 bigrams, latent only because fixtures have
    no such docs. The bigram build is now gated on ``size >= 2`` with
    a typed empty array, matching DuckDB's empty ``range(1, 1)``;
    pinned by tests/test_llm.py::test_distinct_ngrams_single_word."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    bg = F.expr(
        "CASE WHEN size(words) >= 2 THEN"
        " transform(sequence(1, size(words) - 1),"
        "  i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))"
        " ELSE cast(array() as array<string>) END"
    )
    out = w.select(
        "doc_id",
        (F.size("words") - 1).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bg)).cast("long").alias("distinct_bigrams"),
    )
    ratio = F.when(
        F.col("n_bigrams") > 0,
        F.col("distinct_bigrams").cast("double") / F.col("n_bigrams"),
    )
    return out.select(
        "doc_id", "n_bigrams", "distinct_bigrams", ratio.alias("distinct_ratio")
    )


@query(
    "llm_zipf_fit",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (
      SELECT word, COUNT(*) AS freq FROM w GROUP BY word
    ),
    ranked AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS r
      FROM counts
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
             CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      FROM ranked
    ),
    fit AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_words,
           -((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS zipf_exponent,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r_squared
    FROM fit
    """,
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — Zipf-exponent corpus fit: OLS of log-frequency
    on log-rank over the word distribution. Natural corpora follow
    f(r) ∝ r^(−s) with s ≈ 1; the fitted exponent (and its R²) is the
    standard corpus-health diagnostic beside llm_char_entropy and
    llm_distinct_ngrams — template-heavy or looping generated text
    bends the tail visibly off the power law.

    Determinism recipe (the bm25/char_entropy transcendental rule):
    rank and frequency are exact integers, each ln() is rounded to
    6 dp AT the transcendental, and the sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT decimal sums of those 6-dp
    values and their exact 12-dp products — order-independent under
    any partitioning. The normal-equation solution is then one shared
    IEEE tree over agreed doubles, emitted UNROUNDED (the win_ewma
    ledger rule).

    Scale: word counts are one vocabulary-bounded groupBy with
    map-side partials; the GLOBAL rank in (freq DESC, word) order —
    the shape that tempts an unpartitioned window (the lint's hard
    GLOBW rule) — comes from ``bucketing.bucketed_running``, and the
    final fit is a 1-row aggregate."""
    from osm_airflow_spark.bucketing import bucketed_running

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            (-F.col("freq")).alias("neg_freq"),
            F.lit(1).alias("_one"),
        )
    )
    ranked, _ = bucketed_running(counts, "neg_freq", ["_one"], ["word"])
    rank = F.col("run__one")
    x = F.round(F.log(rank.cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("freq").cast("double")), 6).cast("decimal(18,6)")
    pts = ranked.select(x.alias("x"), y.alias("y"))
    fit = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return fit.select(
        n.alias("n_words"),
        (-slope).alias("zipf_exponent"),
        ((sy - slope * sx) / n).alias("intercept"),
        (
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r_squared"),
    )


def compact_posting_stats(spark: SparkSession, stats_dir: str) -> dict:
    """Fold all accreted posting-stat epochs into ONE merged epoch.

    Partials are additive, so compaction = the same summation the
    reader does, rewritten under the reserved epoch id -1 (a real
    foreachBatch epoch is never negative, so a later replay of any
    in-flight epoch can still dynamic-overwrite its own partition
    without touching the compacted history — writing the merge under
    a REAL epoch id would make that replay destroy history). The
    generic io.compact_snapshot is wrong for this layout: it rewrites
    the whole dir unpartitioned, so the next epoch-partitioned ingest
    would land in a mixed layout. Staged write + swap per subdir;
    returns {words_files_before, words_files_after}.

    Swap order (r9 ADVICE fix): the r8 form rmtree'd the live dir
    BEFORE moving the staged merge in, so a crash (or a concurrent
    reader) in that window saw NO stats at all — a destructive hole
    in a function advertising exactly-once maintenance. Now the live
    dir is renamed ASIDE first (atomic same-fs rename), the staged
    merge renamed into place, and only then is the old copy deleted:
    a crash at any point leaves either the old or the new stats fully
    recoverable, at worst plus one ``_compact_old`` leftover that the
    next compaction sweeps. Two crash windows exist and both are
    handled on the NEXT call (r9 review finding): (a) after the final
    rename but before the delete — live dir present, stale ``_old``
    swept; (b) between the two renames — live dir MISSING with the
    ``_old`` copy intact, restored by renaming it back before any
    read. Pinned by
    tests/test_streaming.py::test_compact_swap_is_crash_recoverable
    (final-delete crash) and
    test_compact_swap_recovers_mid_rename_crash (between-renames
    crash)."""
    import os
    import shutil

    for sub in ("words", "corpus"):
        path, old = f"{stats_dir}/{sub}", f"{stats_dir}/{sub}_compact_old"
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)  # crash landed between the two renames

    words = (
        spark.read.parquet(f"{stats_dir}/words")
        .groupBy("word")
        .agg(F.sum("df").alias("df"), F.sum("tf").alias("tf"))
        .withColumn("epoch", F.lit(-1))
    )
    corpus = (
        spark.read.parquet(f"{stats_dir}/corpus")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_dl").alias("sum_dl"),
        )
        .withColumn("epoch", F.lit(-1))
    )
    out = {}
    for df, sub in ((words, "words"), (corpus, "corpus")):
        path = f"{stats_dir}/{sub}"
        old = f"{path}_compact_old"
        staged = f"{path}_compact_stage"
        if os.path.exists(old):  # leftover from a prior crash
            shutil.rmtree(old)
        out[f"{sub}_files_before"] = len(spark.read.parquet(path).inputFiles())
        df.coalesce(1).write.mode("overwrite").partitionBy("epoch").parquet(staged)
        os.rename(path, old)
        os.rename(staged, path)
        shutil.rmtree(old)
        out[f"{sub}_files_after"] = len(spark.read.parquet(path).inputFiles())
    return out


@query(
    "llm_corpus_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    sw AS (
      SELECT source, word, COUNT(*) AS n_sw FROM tok GROUP BY source, word
    ),
    wt AS (
      SELECT word, CAST(SUM(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY word
    ),
    st AS (
      SELECT source, CAST(SUM(n_sw) AS BIGINT) AS t_s FROM sw GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_sw) AS BIGINT) AS t FROM sw),
    grid AS (
      SELECT st.source, st.t_s, wt.word, wt.n_w, tot.t,
             coalesce(sw.n_sw, 0) AS n_sw
      FROM st CROSS JOIN wt CROSS JOIN tot
      LEFT JOIN sw ON sw.source = st.source AND sw.word = wt.word
    ),
    terms AS (
      SELECT source, t_s,
             CASE WHEN n_sw > 0 THEN
               round((CAST(n_sw AS DOUBLE) / t_s)
                     * round(ln((CAST(n_sw AS DOUBLE) / t_s)
                                / ((CAST(n_sw AS DOUBLE) / t_s
                                    + CAST(n_w AS DOUBLE) / t) / 2)), 6), 6)
               ELSE 0.0 END AS kp,
             round((CAST(n_w AS DOUBLE) / t)
                   * round(ln((CAST(n_w AS DOUBLE) / t)
                              / ((CAST(n_sw AS DOUBLE) / t_s
                                  + CAST(n_w AS DOUBLE) / t) / 2)), 6), 6)
               AS kq
      FROM grid
    )
    SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
           0.5 * (CAST(SUM(CAST(kp AS DECIMAL(18,6))) AS DOUBLE)
                  + CAST(SUM(CAST(kq AS DECIMAL(18,6))) AS DOUBLE))
             AS js_divergence
    FROM terms GROUP BY source, t_s
    """,
)
def llm_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — per-source Jensen–Shannon divergence of the
    unigram distribution against the corpus-wide distribution: the
    standard distribution-shift monitor a curation pipeline runs per
    crawl snapshot / per source (JS, unlike KL, is symmetric, finite
    even when a source is missing words, and bounded by ln 2 — a
    source scoring near 0 matches the corpus mix; near ln 2 is a
    different language/domain entirely).

    Determinism: one corpus pass builds the (source, word) count
    table — vocab×sources-bounded, localCheckpointed because FOUR
    branches (word totals, source totals, grand total, the grid)
    derive from it and this build never reuses exchange subtrees —
    and everything downstream is arithmetic over exact BIGINT counts:
    p, q, m are shared IEEE expressions over agreed longs, each ln is
    rounded at the transcendental, each additive term pre-rounded to
    6 dp and decimal-summed (the bm25/ab_test recipe), and the final
    0.5·(KLp + KLq) is one shared IEEE expression emitted UNROUNDED.

    Scale: the corpus is touched ONCE (token explode → map-side
    partial counts, shuffle = sources×vocab); the grid cross-join and
    both KL folds run on checkpointed aggregates thousands of times
    smaller than the input. At 100 TB the same plan holds — the only
    corpus-proportional cost is the one tokenize pass."""
    d = load_table(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n_sw"))
        .localCheckpoint(eager=True)  # feeds wt + st + tot + grid
    )
    wt = sw.groupBy("word").agg(F.sum("n_sw").alias("n_w"))
    st = sw.groupBy("source").agg(F.sum("n_sw").alias("t_s"))
    tot = sw.agg(F.sum("n_sw").alias("t"))
    grid = (
        st.crossJoin(F.broadcast(wt))
        .crossJoin(F.broadcast(tot))
        .join(sw, ["source", "word"], "left")
        .withColumn("n_sw", F.coalesce(F.col("n_sw"), F.lit(0)))
    )
    p = F.col("n_sw").cast("double") / F.col("t_s")
    q = F.col("n_w").cast("double") / F.col("t")
    m = (p + q) / 2
    kp = F.when(
        F.col("n_sw") > 0, F.round(p * F.round(F.log(p / m), 6), 6)
    ).otherwise(F.lit(0.0))
    kq = F.round(q * F.round(F.log(q / m), 6), 6)
    terms = grid.select("source", "t_s", kp.alias("kp"), kq.alias("kq"))
    return terms.groupBy("source", "t_s").agg(
        (
            0.5
            * (
                F.sum(F.col("kp").cast("decimal(18,6)")).cast("double")
                + F.sum(F.col("kq").cast("decimal(18,6)")).cast("double")
            )
        ).alias("js_divergence")
    ).select(
        "source", F.col("t_s").cast("long").alias("n_tokens"), "js_divergence"
    )


@query(
    "llm_dedup_fingerprint",
    oracle=f"""
    WITH {FP_WINNOW_CTE},
    e AS (SELECT doc_id, unnest(fp) AS fp FROM w),
    keep AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) <= 25),
    ek AS (SELECT e.doc_id, e.fp FROM e JOIN keep USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fp
    FROM ek a JOIN ek b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 5
    """,
)
def llm_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — winnowing-overlap near-dup candidates: pairs
    of documents sharing >= 5 DISCRIMINATIVE winnowing fingerprints
    (document frequency <= 25 — the measured knee: at df<=20 the
    fixture's planted near-dup pairs lose their shared grams to the
    boilerplate cap and recall drops to 0.75; at df<=25 recall of
    every word-shingle-Jaccard>=0.8 pair is 1.0 while candidates stay
    ~1-2% of all pairs). This is the second half of Schleimer
    et al.'s design that llm_fingerprint's digest only hints at — in
    MOSS/plagiarism practice you index the winnowed fingerprints and
    report documents with many shared survivors; it catches
    copied-passage overlap that whole-document MinHash dilutes,
    complementing llm_dedup_containment's directional measure.

    The df cap IS the scale story (and the paper's own move): a
    fingerprint appearing in >25 documents is boilerplate — on this
    fixture ONE fingerprint covers 80% of docs — and joining through
    it would quadratically explode the candidate pairs (the same
    mega-bucket hazard minhash_lsh_pairs caps). With the cap, every
    join bucket is <= 25 docs, so pair generation is
    buckets x df² — bounded, never corpus². Exact integer hashes and
    counts end to end: fully SQL-oracled, unlike the probabilistic
    dedup family. The per-fp document-frequency filter is a
    join-back (the llm_boilerplate_df shape — per-gram state is
    corpus-bounded, so a window would not help); at 100 TB persist
    the pruned posting list once and share it across dedup runs (the
    posting_stats pattern).

    MEASURED TRAP (r9, SCALE.md ledger): a plain ``explode(fp)`` here
    ran 200x slower than the fingerprint pass itself — Catalyst's
    InferFiltersFromGenerate infers ``size(fp) > 0`` and pushes it
    BELOW the projects, inlining the whole two-level winnow
    expression into one Filter where ``grams`` is re-evaluated INSIDE
    the slice lambda per window position: O(len³) per document,
    interpreted. ``explode_outer`` is exempt from that rule, so the
    outer explode + a post-filter on the exploded scalar keeps the
    plan at O(len²) with each project evaluated once per row. The
    exploded posting list is then localCheckpointed (r9 review
    finding): FOUR branches consume it (the df aggregate, the keep
    join, both sides of the pair self-join) and this build never
    reuses exchange subtrees, so without the barrier the winnow
    expression would re-run over the corpus four times — the
    llm_corpus_divergence shared-aggregate rationale, applied to the
    posting list itself (exactly what the 100 TB note persists)."""
    d = load_table(spark, sf_dir, "documents")
    e = (
        _fp_winnowed(d)
        .select("doc_id", F.explode_outer("fp").alias("fp"))
        .where(F.col("fp").isNotNull())
        .localCheckpoint(eager=True)
    )
    keep = (
        e.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 25)
        .select("fp")
    )
    ek = e.join(keep, "fp")
    a = ek.select(F.col("doc_id").alias("doc_a"), "fp")
    b = ek.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fp"))
        .where(F.col("shared_fp") >= 5)
    )


def divergence_from_index(
    docs: DataFrame,
    stats_dir: str,
    text_col: str = "text",
) -> DataFrame:
    """Jensen–Shannon divergence of ONE batch's unigram distribution
    against the distribution maintained in the posting-stats index
    (r9) — the production drift monitor: each incoming crawl batch is
    scored against the historical corpus state
    ``posting_stats_ingest_stream`` accretes, without ever rescanning
    the corpus (the corpus side is the index's vocab-bounded word
    table). A batch near 0 matches the historical mix; a spike says
    the source changed domain/language before the batch is admitted.

    Same determinism recipe as ``llm_corpus_divergence`` — exact
    BIGINT counts, shared IEEE p/q/m, ln rounded at the
    transcendental, terms pre-rounded and decimal-summed, one
    unrounded emission — and proven BIT-IDENTICAL to that key when
    the index holds exactly the corpus and the batch is one source
    (tests/test_streaming.py::test_divergence_from_index_matches_batch_key).
    Returns one row: (n_tokens, js_divergence).

    Vocabulary union: words the batch has that the index lacks get
    q=0 (KLq term 0, KLp term p·ln2-ish via m=p/2); index words the
    batch lacks mirror. Both sides ride the vocab-bounded word
    tables — the only batch-proportional cost is tokenizing the
    batch itself."""
    spark = docs.sparkSession
    words, _ = read_posting_stats(spark, stats_dir)
    bw = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_bw"))
        .localCheckpoint(eager=True)  # feeds the total + the grid
    )
    iw = words.select("word", F.col("tf").alias("n_iw")).localCheckpoint(
        eager=True
    )
    bt = bw.agg(F.sum("n_bw").alias("t_b"))
    it = iw.agg(F.sum("n_iw").alias("t_i"))
    grid = (
        bw.join(iw, "word", "full_outer")
        .select(
            F.coalesce(F.col("n_bw"), F.lit(0)).alias("n_bw"),
            F.coalesce(F.col("n_iw"), F.lit(0)).alias("n_iw"),
        )
        .crossJoin(F.broadcast(bt))
        .crossJoin(F.broadcast(it))
    )
    p = F.col("n_bw").cast("double") / F.col("t_b")
    q = F.col("n_iw").cast("double") / F.col("t_i")
    m = (p + q) / 2
    kp = F.when(
        F.col("n_bw") > 0, F.round(p * F.round(F.log(p / m), 6), 6)
    ).otherwise(F.lit(0.0))
    kq = F.when(
        F.col("n_iw") > 0, F.round(q * F.round(F.log(q / m), 6), 6)
    ).otherwise(F.lit(0.0))
    return (
        grid.select("t_b", kp.alias("kp"), kq.alias("kq"))
        .groupBy("t_b")
        .agg(
            (
                0.5
                * (
                    F.sum(F.col("kp").cast("decimal(18,6)")).cast("double")
                    + F.sum(F.col("kq").cast("decimal(18,6)")).cast("double")
                )
            ).alias("js_divergence")
        )
        .select(F.col("t_b").cast("long").alias("n_tokens"), "js_divergence")
    )


@query(
    "llm_source_profile",
    oracle=f"""
    WITH feats AS (
      SELECT source, text,
             len(string_split(text, ' ')) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len
      FROM documents
    ),
    scored AS (
      SELECT source, text, n_words,
             round(least(n_words, 200) / 200.0 * 0.4
                   + least(stop_ratio * 4, 1.0) * 0.3
                   + CASE WHEN mean_word_len BETWEEN 3 AND 8
                          THEN 0.3 ELSE 0.0 END, 6) AS q
      FROM feats
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens,
           CAST(SUM(n_words) AS DOUBLE) / COUNT(*) AS mean_doc_len,
           CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_quality,
           CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
             AS distinct_ratio
    FROM scored
    GROUP BY source
    """,
)
def llm_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — per-SOURCE corpus health profile: document
    count, token volume, mean document length, mean quality score
    (the llm_quality_score heuristic, 6-dp-rounded per doc then
    decimal-averaged), and the within-source exact-duplicate ratio
    (distinct md5 / docs). This is the drill-down table a curation
    run reads NEXT TO llm_corpus_divergence's distribution-shift
    number: divergence says WHICH source moved, this says what its
    documents look like — the per-source slice of the corpus_health
    report (examples/corpus_health.py).

    Determinism: counts and token sums are exact longs; mean length
    is one division of exact ints; quality is the calibration-key
    recipe (per-row round to 6 dp → the decimal cast is exact → the
    mean is order-independent); the dup ratio divides exact distinct
    counts. Scale: ONE corpus pass, output is O(sources); the
    distinct-md5 count partial-aggregates per source (at 100 TB
    swap COUNT(DISTINCT) for the agg_kmv_distinct sketch — same
    groupBy shape, fixed-width state)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    stop_ratio = _stop_count(words, _EN_STOP).cast("double") / n_words
    mean_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / n_words
    q = F.round(
        F.least(n_words, F.lit(200)) / 200.0 * 0.4
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
        + F.when(mean_word_len.between(3, 8), 0.3).otherwise(0.0),
        6,
    )
    return (
        d.select(
            "source",
            n_words.alias("n_words"),
            q.alias("q"),
            F.md5("text").alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_tokens"),
            (
                F.sum("n_words").cast("double") / F.count(F.lit(1))
            ).alias("mean_doc_len"),
            (
                F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_quality"),
            (
                F.countDistinct("h").cast("double") / F.count(F.lit(1))
            ).alias("distinct_ratio"),
        )
    )


@query(
    "llm_eval_rouge",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS rw FROM documents
    ),
    pair AS (
      SELECT doc_id, rw, {_BLEU_CAND_SQL} AS cw FROM base
    ),
    lens AS (
      SELECT SUM(greatest(len(cw) - 0, 0)) AS t1,
             SUM(greatest(len(cw) - 1, 0)) AS t2,
             SUM(greatest(len(rw) - 0, 0)) AS r1,
             SUM(greatest(len(rw) - 1, 0)) AS r2
      FROM pair
    ),
    cg AS (
      SELECT doc_id, gram, COUNT(*) AS c_cnt
      FROM (
        SELECT doc_id,
               unnest({" || ".join(_bleu_grams_sql("cw", n) for n in (1, 2))})
                 AS gram
        FROM pair
      ) GROUP BY doc_id, gram
    ),
    rg AS (
      SELECT doc_id, gram, COUNT(*) AS r_cnt
      FROM (
        SELECT doc_id,
               unnest({" || ".join(_bleu_grams_sql("rw", n) for n in (1, 2))})
                 AS gram
        FROM base
      ) GROUP BY doc_id, gram
    ),
    m AS (
      SELECT SUM(CASE WHEN substr(gram, 1, 1) = '1'
                      THEN least(c_cnt, r_cnt) ELSE 0 END) AS m1,
             SUM(CASE WHEN substr(gram, 1, 1) = '2'
                      THEN least(c_cnt, r_cnt) ELSE 0 END) AS m2
      FROM cg JOIN rg USING (doc_id, gram)
    )
    SELECT CAST(m1 AS BIGINT) AS m1,
           CAST(m2 AS BIGINT) AS m2,
           CASE WHEN t1 > 0 THEN CAST(m1 AS DOUBLE) / t1 END AS rouge1_p,
           CASE WHEN r1 > 0 THEN CAST(m1 AS DOUBLE) / r1 END AS rouge1_r,
           CASE WHEN m1 > 0 THEN
             2.0 * (CAST(m1 AS DOUBLE) / t1) * (CAST(m1 AS DOUBLE) / r1)
             / ((CAST(m1 AS DOUBLE) / t1) + (CAST(m1 AS DOUBLE) / r1))
           END AS rouge1_f,
           CASE WHEN t2 > 0 THEN CAST(m2 AS DOUBLE) / t2 END AS rouge2_p,
           CASE WHEN r2 > 0 THEN CAST(m2 AS DOUBLE) / r2 END AS rouge2_r,
           CASE WHEN m2 > 0 THEN
             2.0 * (CAST(m2 AS DOUBLE) / t2) * (CAST(m2 AS DOUBLE) / r2)
             / ((CAST(m2 AS DOUBLE) / t2) + (CAST(m2 AS DOUBLE) / r2))
           END AS rouge2_f
    FROM lens, m
    """,
)
def llm_eval_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — corpus ROUGE-1/ROUGE-2 (Lin 2004), the
    recall-oriented companion to llm_eval_bleu over the SAME
    candidate/reference pairing (every-7th-word-dropped candidate vs
    full reference; swap in real summaries): clipped n-gram matches
    divided by the CANDIDATE total (precision) and the REFERENCE
    total (recall), plus their F-measure — the summary-evaluation
    triple. ROUGE-L is deliberately absent: LCS is a per-pair
    quadratic DP with no bounded relational form; the n-gram
    variants are what scales.

    Determinism: every count is an exact integer from the shared
    explode→groupBy→join clipped-count shape (the llm_eval_bleu
    kernel, n=1,2 only); each emitted metric is one or two exact-int
    divisions and a shared three-node F1 tree over them — no
    transcendental, no rounding, NULL guards mirrored. Scale: same
    as BLEU — one (doc_id, gram) shuffle ∝ corpus grams, totals as
    side-tagged sums over the same counts table (r14: the text is
    read exactly once); output ONE row."""
    d = load_table(spark, sf_dir, "documents")

    # r14 (guide §2.3/§2.4): same single-pass rewrite as
    # llm_eval_bleu — both sides' gram multisets count in one tagged
    # explode and one (doc_id, gram) exchange; least(c, 0) = 0 keeps
    # the old inner-join sums identical. Second pass: the t_n/r_n
    # slot totals are the side-tagged sums over the same counts table
    # (the builders emit exactly max(len - n + 1, 0) grams per doc),
    # so the separate corpus-retokenizing lens aggregate is gone —
    # this key now reads the text exactly once.
    # r15: rw/cw become Project ATTRIBUTES under the Generate (the
    # chrf pattern) — identical grams, O(1) source reads inside the
    # gram lambdas.
    def side_grams(arr: Column, is_cand: bool) -> Column:
        allg = F.concat(*[_bleu_grams(arr, n) for n in (1, 2)])
        return F.transform(
            allg,
            lambda g: F.struct(g.alias("gram"), F.lit(is_cand).alias("is_c")),
        )

    base = d.select("doc_id", F.split("text", " ").alias("rw")).select(
        "doc_id",
        "rw",
        F.filter("rw", lambda x, i: ((i + F.lit(1)) % 7) != 0).alias("cw"),
    )
    counts = (
        base.select(
            "doc_id",
            F.explode_outer(
                F.concat(
                    side_grams(F.col("cw"), True),
                    side_grams(F.col("rw"), False),
                )
            ).alias("sg"),
        )
        .where(F.col("sg").isNotNull())
        .groupBy("doc_id", F.col("sg.gram").alias("gram"))
        .agg(
            F.sum(F.when(F.col("sg.is_c"), 1).otherwise(0)).alias("c_cnt"),
            F.sum(F.when(~F.col("sg.is_c"), 1).otherwise(0)).alias("r_cnt"),
        )
    )
    clipped = F.least(F.col("c_cnt"), F.col("r_cnt"))
    marker = F.substring("gram", 1, 1)
    m = counts.agg(
        *[
            F.sum(F.when(marker == str(n), clipped).otherwise(0))
            .cast("long")
            .alias(f"m{n}")
            for n in (1, 2)
        ],
        *[
            F.sum(F.when(marker == str(n), F.col("c_cnt")).otherwise(0))
            .cast("long")
            .alias(f"t{n}")
            for n in (1, 2)
        ],
        *[
            F.sum(F.when(marker == str(n), F.col("r_cnt")).otherwise(0))
            .cast("long")
            .alias(f"r{n}")
            for n in (1, 2)
        ],
    )

    def triple(n: int):
        mn = F.col(f"m{n}").cast("double")
        p = F.when(F.col(f"t{n}") > 0, mn / F.col(f"t{n}"))
        r = F.when(F.col(f"r{n}") > 0, mn / F.col(f"r{n}"))
        f = F.when(F.col(f"m{n}") > 0, 2.0 * p * r / (p + r))
        return p, r, f

    p1, r1, f1 = triple(1)
    p2, r2, f2 = triple(2)
    return m.select(
        "m1",
        "m2",
        p1.alias("rouge1_p"),
        r1.alias("rouge1_r"),
        f1.alias("rouge1_f"),
        p2.alias("rouge2_p"),
        r2.alias("rouge2_r"),
        f2.alias("rouge2_f"),
    )


@query(
    "llm_ngram_novelty",
    oracle=f"""
    WITH base AS (
      SELECT substr(md5(text), 1, 2) AS pfx,
             string_split(text, ' ') AS w
      FROM documents
    ),
    inst AS (
      SELECT pfx, unnest({_bleu_grams_sql('w', 2)}) AS g FROM base
    ),
    train AS (SELECT DISTINCT g FROM inst WHERE pfx >= '1a'),
    marked AS (
      SELECT v.g, t.g IS NOT NULL AS seen
      FROM (SELECT g FROM inst WHERE pfx >= '0a' AND pfx < '1a') v
      LEFT JOIN train t ON v.g = t.g
    )
    SELECT CAST(tn.n_train_distinct AS BIGINT) AS n_train_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_val_instances,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_val_distinct,
           CAST(SUM(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen_instances,
           CAST(COUNT(DISTINCT CASE WHEN NOT seen THEN g END) AS BIGINT)
             AS n_unseen_distinct,
           CAST(SUM(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty_mass,
           CAST(COUNT(DISTINCT CASE WHEN NOT seen THEN g END) AS DOUBLE)
             / COUNT(DISTINCT g) AS novelty_distinct
    FROM marked,
         (SELECT COUNT(*) AS n_train_distinct FROM train) tn
    GROUP BY tn.n_train_distinct
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — N-GRAM NOVELTY of the validation split
    against the train split: what fraction of val bigram instances
    (and distinct bigrams) never appear in train. The memorization /
    generalization screen a data curator reads next to the
    contamination check — near-zero novelty means the val split
    can't measure generalization (leaked or templated corpus);
    near-one means the splits are distribution-mismatched. Splits
    are the content-hash ranges of llm_split_assign (leakage-proof
    by construction), bigrams the empty-safe _bleu_grams build
    shared with BLEU/ROUGE.

    Scale: one documents pass explodes to gram instances
    (checkpointed — both split filters read it); the train
    side collapses to a DISTINCT gram table (corpus-bounded — the
    per-gram join-back the house keeps as a join, never a window);
    val instances LEFT-join it once, with every count taken in that
    single marked pass. The train-distinct count rides along as a
    broadcast 1-row aggregate. At 100 TB the gram join is the same
    banded equi-join shape as the dedup family — bucketable on the
    gram hash."""
    d = load_table(spark, sf_dir, "documents")
    pfx = F.substring(F.md5("text"), 1, 2)
    inst = d.select(
        pfx.alias("pfx"),
        F.explode(_bleu_grams(F.split("text", " "), 2)).alias("g"),
    ).localCheckpoint(eager=True)  # train filter + val filter both read
    # it, and this build never reuses exchange subtrees — without the
    # barrier the documents scan + md5 + gram explode runs TWICE (r9
    # self-review). At 100 TB the same one-pass guarantee comes from
    # staging the gram table to storage instead of executor memory.
    train_g = (
        inst.where(F.col("pfx") >= "1a")
        .select("g")
        .distinct()
        .localCheckpoint(eager=True)  # join probe + the 1-row count
    )
    tn = train_g.agg(F.count(F.lit(1)).alias("n_train_distinct"))
    val = inst.where((F.col("pfx") >= "0a") & (F.col("pfx") < "1a")).select(
        "g"
    )
    marked = val.join(
        train_g.select("g", F.lit(1).alias("seen")), "g", "left"
    )
    unseen = F.col("seen").isNull()
    return (
        marked.crossJoin(F.broadcast(tn))
        .groupBy("n_train_distinct")
        .agg(
            F.count(F.lit(1)).alias("n_val_instances"),
            F.countDistinct("g").alias("n_val_distinct"),
            F.sum(F.when(unseen, 1).otherwise(0)).alias("n_unseen_instances"),
            F.countDistinct(F.when(unseen, F.col("g"))).alias(
                "n_unseen_distinct"
            ),
        )
        .select(
            F.col("n_train_distinct").cast("long").alias("n_train_distinct"),
            F.col("n_val_instances").cast("long").alias("n_val_instances"),
            F.col("n_val_distinct").cast("long").alias("n_val_distinct"),
            F.col("n_unseen_instances").cast("long").alias(
                "n_unseen_instances"
            ),
            F.col("n_unseen_distinct").cast("long").alias("n_unseen_distinct"),
            (
                F.col("n_unseen_instances").cast("double")
                / F.col("n_val_instances")
            ).alias("novelty_mass"),
            (
                F.col("n_unseen_distinct").cast("double")
                / F.col("n_val_distinct")
            ).alias("novelty_distinct"),
        )
    )


@query(
    "llm_mixture_plan",
    oracle="""
    WITH avail AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    parts AS (
      SELECT source, toks,
             CAST(round(sqrt(toks), 6) AS DECIMAL(18,6)) AS part
      FROM avail
    ),
    tot AS (
      SELECT SUM(toks) AS total, SUM(part) AS part_sum FROM parts
    )
    SELECT source,
           toks AS tokens_available,
           CAST(toks AS DOUBLE) / total AS raw_share,
           CAST(part AS DOUBLE) / CAST(part_sum AS DOUBLE) AS target_share,
           (CAST(part AS DOUBLE) / CAST(part_sum AS DOUBLE))
             * (0.5 * total) / toks AS sampling_rate,
           (CAST(part AS DOUBLE) / CAST(part_sum AS DOUBLE))
             * (0.5 * total) / toks > 1.0 AS oversampled
    FROM parts, tot
    ORDER BY source
    """,
)
def llm_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — TEMPERATURE-RESAMPLED MIXTURE PLAN (T = 2)
    over sources: target_share ∝ √tokens_available, the standard
    up-weighting of small sources against head domination (the
    mT5/XLM-R temperature-sampling recipe; T→1 is proportional, T→∞
    uniform), then the per-source sampling rate that realizes the
    plan inside a half-corpus token budget — with the oversampled
    flag marking sources the budget would need to repeat (rate > 1 ⇒
    multiple epochs of that source, the signal to lower T or shrink
    the budget). The deterministic downstream sampler is
    llm_sample_stratified's hash-range machinery; this key computes
    the rates it would be fed.

    Determinism: token counts are exact integers; √toks rounds at
    the irrational (term rule) and the share denominator sums those
    6-dp decimals exactly, so shares and rates are shared IEEE trees
    over agreed inputs in both engines. Scale: one documents pass to
    a sources-bounded table; the totals ride as a broadcast 1-row
    aggregate; everything after is control-plane sized."""
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks")
    )
    parts = avail.select(
        "source",
        "toks",
        F.round(F.sqrt(F.col("toks").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("part"),
    ).localCheckpoint(eager=True)  # totals + the per-source readout
    tot = parts.agg(
        F.sum("toks").alias("total"), F.sum("part").alias("part_sum")
    )
    share = F.col("part").cast("double") / F.col("part_sum").cast("double")
    rate = share * (0.5 * F.col("total")) / F.col("toks")
    return (
        parts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("toks").alias("tokens_available"),
            (F.col("toks").cast("double") / F.col("total")).alias(
                "raw_share"
            ),
            share.alias("target_share"),
            rate.alias("sampling_rate"),
            (rate > 1.0).alias("oversampled"),
        )
        .orderBy("source")
    )


@query(
    "llm_split_leakage",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN substr(md5(text), 1, 2) < '0a' THEN 'test'
                  WHEN substr(md5(text), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split,
             string_split(text, ' ') AS w
      FROM documents
    ),
    gd AS (
      SELECT DISTINCT doc_id,
             unnest({_bleu_grams_sql('w', 2)}) AS g
      FROM base
    ),
    rare AS (
      SELECT g FROM gd GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 5
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM gd a JOIN rare USING (g) JOIN gd b USING (g)
      WHERE a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b, x.split AS split_a, y.split AS split_b,
             CAST(len(list_intersect(list_distinct(x.w),
                                     list_distinct(y.w))) AS DOUBLE)
               / len(list_distinct(x.w || y.w)) AS jaccard
      FROM cand c
      JOIN base x ON x.doc_id = c.doc_a
      JOIN base y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, split_a, split_b, jaccard
    FROM scored
    WHERE split_a <> split_b AND jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r9) — SPLIT-LEAKAGE AUDIT: near-duplicate pairs
    that STRADDLE the content-hash train/val/test splits. Exact
    duplicates can never straddle (same text ⇒ same hash ⇒ same
    split — the llm_split_assign guarantee), but near-duplicates
    hash independently and land wherever — exactly the leakage that
    inflates eval scores. Candidates come from RARE-GRAM BLOCKING
    (bigrams with document frequency 2–5): a shared rare gram is the
    cheap high-precision signal, the df cap bounds each posting list
    so candidate volume is Σ df² ≤ 5·Σ df (the winnowing key's
    df-cap policy), and only candidates pay the exact word-set
    Jaccard (integer set sizes, exact division — fully SQL-oracled,
    unlike the MinHash path). Cross-split filter last, so the same
    machinery audits within-split dups by flipping the predicate.

    Scale: gram explode → df groupBy → bounded posting self-join →
    two corpus-bounded join-backs for the word arrays — every stage
    keyed, nothing quadratic in the corpus."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5("text"), 1, 2)
    base = d.select(
        "doc_id",
        F.when(prefix < "0a", "test")
        .when(prefix < "1a", "val")
        .otherwise("train")
        .alias("split"),
        F.split("text", " ").alias("w"),
    ).localCheckpoint(eager=True)  # gram build + two scoring join-backs
    gd = (
        base.select(
            "doc_id", F.explode(_bleu_grams(F.col("w"), 2)).alias("g")
        )
        .distinct()
        .localCheckpoint(eager=True)  # df groupBy + both join sides
    )
    rare = (
        gd.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 5))
        .select("g")
    )
    cand = (
        gd.join(rare, "g")
        .select("g", F.col("doc_id").alias("doc_a"))
        .join(gd.select("g", F.col("doc_id").alias("doc_b")), "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("split").alias("split_a"),
        F.array_distinct("w").alias("wa"),
    )
    y = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("split_b"),
        F.array_distinct("w").alias("wb"),
    )
    jac = F.size(F.array_intersect("wa", "wb")).cast("double") / F.size(
        F.array_union("wa", "wb")
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", "split_a", "split_b", jac.alias("jaccard"))
        .where((F.col("split_a") != F.col("split_b")) & (F.col("jaccard") >= 0.5))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "llm_readability",
    oracle="""
    WITH stats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences,
             CAST(list_sum(list_transform(
               string_split(lower(text), ' '),
               w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))
             )) AS BIGINT) AS n_syllables
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_words, n_sentences, n_syllables,
             206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
               - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
      FROM stats
    )
    SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
           CASE WHEN flesch >= 60 THEN 'easy'
                WHEN flesch >= 30 THEN 'medium'
                ELSE 'hard' END AS readability_band
    FROM scored
    """,
)
def llm_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension -- FLESCH READING EASE per document: the classic
    readability screen a pretraining quality gate runs beside
    llm_quality_score (very low readability correlates with
    boilerplate/gibberish; very high with trivial listicles).
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/word), with
    the standard heuristic syllable counter: non-overlapping vowel
    GROUPS ([aeiouy]+) per word, floor 1 per word (both engines'
    regex engines agree on this class-plus pattern; no backtracking
    constructs). Sentences floor at 1 -- the synthetic fixture has
    no terminal punctuation, so every doc is one sentence there, but
    the [.!?] count is the real-corpus path.

    Exactness: all three counts are exact integers computed
    JVM-side (split + HOF aggregate -- no Python UDF); the score is
    a fixed-shape IEEE tree over their double casts with short
    (exact) literals, emitted unrounded; the band CASE reads the
    shared double. Scale: embarrassingly parallel single pass, no
    shuffle at all -- the narrowest possible plan."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    syl = F.aggregate(
        F.split(F.lower("text"), " "),
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(w, F.lit("[aeiouy]+")).cast("long"),
        ),
    )
    stats = d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(F.col("text"), F.lit("[.!?]")).cast("long"),
        ).alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    scored = stats.withColumn("flesch", flesch)
    return scored.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "flesch",
        F.when(F.col("flesch") >= 60, "easy")
        .when(F.col("flesch") >= 30, "medium")
        .otherwise("hard")
        .alias("readability_band"),
    )


def _chrf_grams_sql(s: str, n: int) -> str:
    """Prefixed char n-gram list over a SQL string expression, EMPTY
    for strings shorter than n (the descending-sequence guard, the
    _bleu_grams_sql precedent)."""
    return (
        f"CASE WHEN length({s}) >= {n} THEN "
        f"list_transform(generate_series(1, length({s}) - {n - 1}), "
        f"i -> '{n}|' || substr({s}, i, {n})) ELSE [] END"
    )


def _chrf_grams(col: Column, n: int) -> Column:
    """Spark twin of :func:`_chrf_grams_sql` — same guard, same
    1-based indexing, same 'n|' prefix."""
    grams = F.transform(
        F.sequence(F.lit(1), F.length(col) - (n - 1)),
        lambda i: F.concat(F.lit(f"{n}|"), col.substr(i, F.lit(n))),
    )
    return F.when(F.length(col) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


_CHRF_CAND_CHARS_SQL = (
    "array_to_string(list_transform(list_filter(generate_series(1, "
    "len(string_split(text, ' '))), i -> i % 7 <> 0), "
    "i -> string_split(text, ' ')[i]), '')"
)
_CHRF_NS = (1, 2, 3, 4, 5, 6)
_CHRF_P_SQL = " + ".join(
    f"(CAST(m{n} AS DOUBLE) / ct{n})" for n in _CHRF_NS
)
_CHRF_R_SQL = " + ".join(
    f"(CAST(m{n} AS DOUBLE) / rt{n})" for n in _CHRF_NS
)


@query(
    "llm_eval_chrf",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, replace(text, ' ', '') AS rs,
             {_CHRF_CAND_CHARS_SQL} AS cs
      FROM documents
    ),
    lens AS (
      SELECT COUNT(*) AS n_docs,
             SUM(length(rs)) AS ref_chars,
             SUM(length(cs)) AS cand_chars,
             {", ".join(
                 f"SUM(greatest(length(cs) - {n - 1}, 0)) AS ct{n}, "
                 f"SUM(greatest(length(rs) - {n - 1}, 0)) AS rt{n}"
                 for n in _CHRF_NS
             )}
      FROM base
    ),
    cg AS (
      SELECT doc_id, gram, COUNT(*) AS c_cnt
      FROM (
        SELECT doc_id,
               unnest({" || ".join(_chrf_grams_sql("cs", n) for n in _CHRF_NS)})
                 AS gram
        FROM base
      ) GROUP BY doc_id, gram
    ),
    rg AS (
      SELECT doc_id, gram, COUNT(*) AS r_cnt
      FROM (
        SELECT doc_id,
               unnest({" || ".join(_chrf_grams_sql("rs", n) for n in _CHRF_NS)})
                 AS gram
        FROM base
      ) GROUP BY doc_id, gram
    ),
    m AS (
      SELECT {", ".join(
          f"SUM(CASE WHEN substr(gram, 1, 1) = '{n}' "
          f"THEN least(c_cnt, r_cnt) ELSE 0 END) AS m{n}"
          for n in _CHRF_NS
      )}
      FROM cg JOIN rg USING (doc_id, gram)
    ),
    f AS (
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(cand_chars AS BIGINT) AS cand_chars,
             CAST(ref_chars AS BIGINT) AS ref_chars,
             CASE WHEN ct6 > 0 THEN ({_CHRF_P_SQL}) / 6.0 END AS macro_p,
             CASE WHEN rt6 > 0 THEN ({_CHRF_R_SQL}) / 6.0 END AS macro_r
      FROM lens, m
    )
    SELECT n_docs, cand_chars, ref_chars, macro_p, macro_r,
           CASE WHEN 4.0 * macro_p + macro_r > 0 THEN
             (5.0 * macro_p * macro_r) / (4.0 * macro_p + macro_r)
           END AS chrf2
    FROM f
    """,
)
def llm_eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — corpus chrF2 (Popović 2015): character n-gram
    F-score with β = 2 (recall-weighted), n = 1..6,
    whitespace-stripped — the generation-eval metric that is robust
    to tokenization and morphology where word BLEU is brittle; sits
    beside llm_eval_bleu (same candidate framing: every 7th word
    dropped, reference = full text) and llm_eval_rouge. Macro:
    P = mean_n(m_n/cand_n), R = mean_n(m_n/ref_n),
    chrF2 = 5PR/(4P + R).

    Determinism: every count is an exact integer (clipped matches
    per order via the BLEU explode→groupBy→join shape — the n marker
    rides IN the gram string so all six orders share one explode and
    one join); each P_n/R_n is an exact-int ratio, the two macro
    means are FIXED-ORDER six-term chains over agreed doubles, and
    chrF2 is one shared IEEE tree — no transcendental anywhere, so
    everything emits unrounded. Gram builders guard short strings
    (the descending-sequence lesson); degenerate corpora (no 6-gram
    slots / P = R = 0) emit NULL. Uses explode_outer + null
    post-filter (the InferFiltersFromGenerate r9 trap).

    Scale: ONE corpus text pass (r14, guide §2.3/§2.4: both sides
    count in a single explode and a single (doc_id, gram) exchange;
    the slot/char totals are side-tagged sums over that same counts
    table — only n_docs touches the table again, as a doc_id-only
    count), linear in corpus chars ×6. Char 6-grams are ~6× the text
    volume — the documented cost of the metric itself, not a plan
    artifact."""
    d = load_table(spark, sf_dir, "documents")
    # r14 second pass (guide §2.3): the ct_n/rt_n slot totals and the
    # char totals (= the 1-gram slots) are side-tagged sums over the
    # counts table itself (the builders emit exactly
    # max(len - n + 1, 0) grams per string), so the separate
    # corpus-rebuilding lens aggregate is gone; only n_docs still
    # touches the table, as a doc_id-only count.
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))

    # r14 (guide §2.3/§2.4): same single-pass rewrite as
    # llm_eval_bleu — both sides' char-gram multisets count in one
    # tagged explode and one (doc_id, gram) exchange; least(c, 0) = 0
    # keeps the old inner-join sums identical. cs/rs stay Project
    # ATTRIBUTES under the Generate (the pattern bleu/rouge adopt in
    # r15): the gram lambdas read them O(1), never re-deriving the
    # source strings per element.
    rw = F.split("text", " ")
    cw = F.filter(rw, lambda x, i: ((i + F.lit(1)) % 7) != 0)
    base = d.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" "), F.lit("")).alias("rs"),
        F.array_join(cw, "").alias("cs"),
    )

    def side_grams(src_col: str, is_cand: bool) -> Column:
        allg = F.concat(*[_chrf_grams(F.col(src_col), n) for n in _CHRF_NS])
        return F.transform(
            allg,
            lambda g: F.struct(g.alias("gram"), F.lit(is_cand).alias("is_c")),
        )

    counts = (
        base.select(
            "doc_id",
            F.explode_outer(
                F.concat(side_grams("cs", True), side_grams("rs", False))
            ).alias("sg"),
        )
        .where(F.col("sg").isNotNull())
        .groupBy("doc_id", F.col("sg.gram").alias("gram"))
        .agg(
            F.sum(F.when(F.col("sg.is_c"), 1).otherwise(0)).alias("c_cnt"),
            F.sum(F.when(~F.col("sg.is_c"), 1).otherwise(0)).alias("r_cnt"),
        )
    )
    clipped = F.least(F.col("c_cnt"), F.col("r_cnt"))
    marker = F.substring("gram", 1, 1)
    m = counts.agg(
        *[
            F.sum(F.when(marker == str(n), clipped).otherwise(0))
            .cast("long")
            .alias(f"m{n}")
            for n in _CHRF_NS
        ],
        *[
            a
            for n in _CHRF_NS
            for a in (
                F.sum(F.when(marker == str(n), F.col("c_cnt")).otherwise(0))
                .cast("long")
                .alias(f"ct{n}"),
                F.sum(F.when(marker == str(n), F.col("r_cnt")).otherwise(0))
                .cast("long")
                .alias(f"rt{n}"),
            )
        ],
    )
    p_chain = None
    r_chain = None
    for n in _CHRF_NS:
        pt = F.col(f"m{n}").cast("double") / F.col(f"ct{n}")
        rt = F.col(f"m{n}").cast("double") / F.col(f"rt{n}")
        p_chain = pt if p_chain is None else p_chain + pt
        r_chain = rt if r_chain is None else r_chain + rt
    f_ = nd.crossJoin(F.broadcast(m)).select(
        "n_docs",
        F.col("ct1").alias("cand_chars"),
        F.col("rt1").alias("ref_chars"),
        F.when(F.col("ct6") > 0, p_chain / 6.0).alias("macro_p"),
        F.when(F.col("rt6") > 0, r_chain / 6.0).alias("macro_r"),
    )
    p = F.col("macro_p")
    r = F.col("macro_r")
    return f_.select(
        "n_docs",
        "cand_chars",
        "ref_chars",
        "macro_p",
        "macro_r",
        F.when(
            4.0 * p + r > 0, (5.0 * p * r) / (4.0 * p + r)
        ).alias("chrf2"),
    )


# shared by llm_eval_brier / llm_eval_ece (r13 self-review: the logit
# model + reference heuristic must not fork across the calibration
# family — one definition, two consumers; llm_eval_calibration / auc
# predate it and keep their inline copies, driver-proven keys are not
# churned)
_SCORED_CTE = f"""WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_sql_list(_EN_STOP)}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len
      FROM documents
    ),
    scored AS (
      SELECT round(1.0 / (1.0 + exp(-(-1.0
               + 2.5 * (least(n_words, 200) / 200.0)
               + 1.5 * stop_ratio
               + 0.8 * (CASE WHEN mean_word_len BETWEEN 3 AND 8
                             THEN 1.0 ELSE 0.0 END)))), 6) AS p,
             CASE WHEN (least(n_words, 200) / 200.0 * 0.4
                        + least(stop_ratio * 4, 1.0) * 0.3
                        + CASE WHEN mean_word_len BETWEEN 3 AND 8
                               THEN 0.3 ELSE 0.0 END) >= 0.5
                  THEN 1 ELSE 0 END AS y
      FROM feats
    ),"""

_BIN_PIVOT_SQL = ", ".join(
    f"CAST(SUM(CASE WHEN least(floor(p * 10), 9) = {k} "
    f"THEN 1 ELSE 0 END) AS BIGINT) AS n_{k}, "
    f"CAST(SUM(CASE WHEN least(floor(p * 10), 9) = {k} "
    f"THEN y ELSE 0 END) AS BIGINT) AS y_{k}, "
    f"CAST(SUM(CASE WHEN least(floor(p * 10), 9) = {k} "
    f"THEN CAST(CAST(p AS DECIMAL(18,6)) * 1000000 AS BIGINT) "
    f"ELSE 0 END) AS BIGINT) AS s6_{k}"
    for k in range(10)
)


def _quality_scored(d: DataFrame) -> DataFrame:
    """(p, y) for the calibration family: p = 6-dp logit keep-score,
    y = reference-heuristic keep decision — the Spark twin of
    ``_SCORED_CTE``."""
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    stop_ratio = _stop_count(words, _EN_STOP).cast("double") / n_words
    mean_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / n_words
    logit = (
        F.lit(-1.0)
        + 2.5 * (F.least(n_words, F.lit(200)) / 200.0)
        + 1.5 * stop_ratio
        + 0.8 * F.when(mean_word_len.between(3, 8), 1.0).otherwise(0.0)
    )
    p = F.round(1.0 / (1.0 + F.exp(-logit)), 6)
    quality = (
        F.least(n_words, F.lit(200)) / 200.0 * 0.4
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
        + F.when(mean_word_len.between(3, 8), 0.3).otherwise(0.0)
    )
    return d.select(
        p.alias("p"), F.when(quality >= 0.5, 1).otherwise(0).alias("y")
    )


def _bin_pivot_cols() -> list:
    """The 30 per-decile conditional-agg Columns (n_k, y_k, s6_k) —
    Spark twin of ``_BIN_PIVOT_SQL``."""
    pdec = F.col("p").cast("decimal(18,6)")
    bin_col = F.least(F.floor(F.col("p") * 10), F.lit(9))
    cols = []
    for k in range(10):
        in_bin = bin_col == k
        cols.append(
            F.sum(F.when(in_bin, 1).otherwise(0)).cast("long").alias(f"n_{k}")
        )
        cols.append(
            F.sum(F.when(in_bin, F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"y_{k}")
        )
        cols.append(
            F.sum(F.when(in_bin, (pdec * 1000000).cast("long")).otherwise(0))
            .cast("long")
            .alias(f"s6_{k}")
        )
    return cols


def _brier_bin_folds() -> tuple[str, str]:
    """(reliability, resolution) SQL over the 30 pivoted per-bin
    integer columns n_0..9 / y_0..9 / s6_0..9 — fixed textual
    addition order bin 0→9 so both engines walk one IEEE tree.
    Per-bin terms: rel_k = ((s6_k − 10⁶·y_k)/10⁶)² / n_k,
    res_k = (y_k·N − n_k·Y)² / n_k; empty bins contribute 0.0."""
    rel_terms = [
        f"(CASE WHEN n_{k} > 0 THEN "
        f"((CAST(s6_{k} - 1000000 * y_{k} AS DOUBLE) / 1000000.0) "
        f"* (CAST(s6_{k} - 1000000 * y_{k} AS DOUBLE) / 1000000.0)) "
        f"/ CAST(n_{k} AS DOUBLE) ELSE 0.0 END)"
        for k in range(10)
    ]
    res_terms = [
        f"(CASE WHEN n_{k} > 0 THEN "
        f"(CAST(y_{k} * nn - n_{k} * yy AS DOUBLE) "
        f"* CAST(y_{k} * nn - n_{k} * yy AS DOUBLE)) "
        f"/ CAST(n_{k} AS DOUBLE) ELSE 0.0 END)"
        for k in range(10)
    ]

    def fold(terms):
        out = terms[0]
        for t in terms[1:]:
            out = f"({out}) + ({t})"
        return out

    return fold(rel_terms), fold(res_terms)


_BRIER_REL, _BRIER_RES = _brier_bin_folds()


@query(
    "llm_eval_brier",
    oracle=f"""
    {_SCORED_CTE}
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(y) AS BIGINT) AS yy,
             CAST(SUM((CAST(p AS DECIMAL(18,6)) - y)
                      * (CAST(p AS DECIMAL(18,6)) - y)) AS DECIMAL(38,12))
               AS sq_sum,
             {_BIN_PIVOT_SQL}
      FROM scored
    )
    SELECT nn AS n_docs,
           round(CAST(sq_sum AS DOUBLE) / nn, 9) + 0.0 AS brier,
           ({_BRIER_REL}) / CAST(nn AS DOUBLE) AS reliability,
           ({_BRIER_RES})
             / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
             AS resolution,
           CAST(yy * (nn - yy) AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
             AS uncertainty
    FROM g
    """,
)
def llm_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r13) — BRIER SCORE + Murphy decomposition of the
    learned quality filter against the reference heuristic: the
    proper-scoring-rule summary that llm_eval_calibration's
    reliability diagram eyeballs. reliability (calibration error,
    lower better) and resolution (how much the filter separates keep
    from drop, higher better) use the same decile bins as the
    calibration key; uncertainty = ȳ(1−ȳ) is the no-skill floor.

    Determinism: p is the 6-dp logit score, so (p−y)² is an EXACT
    12-dp decimal and the Brier numerator an exact decimal sum; the
    final mean is the house big-decimal-ratio recipe (one double
    division, 9-dp emission — the unscaled sum passes 2^53 where the
    engines' decimal→double casts can split one ulp). Per-bin
    ingredients (n_k, y_k, Σp·10⁶) are exact BIGINTs via conditional
    aggregation; rel/res fold the ten per-bin terms in a FIXED
    textual order (one shared IEEE tree, emitted unrounded) — no
    rounding of quotient-derived doubles anywhere (the r13 midpoint
    mechanism). Scale: ONE corpus pass, one global conditional
    aggregate, output is one row — no join, no second scan (the
    no-exchange-reuse doctrine)."""
    scored = _quality_scored(load_table(spark, sf_dir, "documents"))
    pdec = F.col("p").cast("decimal(18,6)")
    g = scored.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("y").cast("long").alias("yy"),
        F.sum((pdec - F.col("y")) * (pdec - F.col("y")))
        .cast("decimal(38,12)")
        .alias("sq_sum"),
        *_bin_pivot_cols(),
    )
    nn_d = F.col("nn").cast("double")
    return g.select(
        F.col("nn").alias("n_docs"),
        (
            F.round(F.col("sq_sum").cast("double") / F.col("nn"), 9) + F.lit(0.0)
        ).alias("brier"),
        (F.expr(_BRIER_REL) / nn_d).alias("reliability"),
        (F.expr(_BRIER_RES) / (nn_d * nn_d * nn_d)).alias("resolution"),
        (
            (F.col("yy") * (F.col("nn") - F.col("yy"))).cast("double")
            / (nn_d * nn_d)
        ).alias("uncertainty"),
    )


def _ece_sql() -> tuple[str, str]:
    """(ece, mce) SQL over the pivoted per-bin integers. ECE reduces
    to EXACT integers: Σ_k n_k·|p̄_k − ȳ_k| = Σ_k |Σp·10⁶ − 10⁶·y_k|
    / 10⁶, so the sum is one BIGINT and the final value two fixed
    divisions of exact operands — no rounding anywhere. MCE is the
    max over the ten per-bin gap quotients, folded via greatest()."""
    ece_terms = " + ".join(f"abs(s6_{k} - 1000000 * y_{k})" for k in range(10))
    mce_terms = ", ".join(
        f"(CASE WHEN n_{k} > 0 THEN "
        f"CAST(abs(s6_{k} - 1000000 * y_{k}) AS DOUBLE) "
        f"/ (1000000.0 * CAST(n_{k} AS DOUBLE)) ELSE 0.0 END)"
        for k in range(10)
    )
    return (
        f"CAST({ece_terms} AS DOUBLE) / 1000000.0 / CAST(nn AS DOUBLE)",
        f"greatest({mce_terms})",
    )


_ECE_EXPR, _MCE_EXPR = _ece_sql()


@query(
    "llm_eval_ece",
    oracle=f"""
    {_SCORED_CTE}
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             {_BIN_PIVOT_SQL}
      FROM scored
    )
    SELECT nn AS n_docs,
           {_ECE_EXPR} AS ece,
           {_MCE_EXPR} AS mce
    FROM g
    """,
)
def llm_eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (r13) — EXPECTED CALIBRATION ERROR (+ max-bin MCE)
    of the learned quality filter: the single calibration number
    practitioners quote from the reliability diagram the calibration
    key tabulates and llm_eval_brier decomposes. Same decile bins.

    Determinism: ECE collapses to exact INTEGERS — Σ_k n_k·|p̄_k−ȳ_k|
    = Σ_k |10⁶·Σp − 10⁶·y_k| / 10⁶ with 10⁶·Σp an exact BIGINT from
    the 6-dp score — so the emitted value is two fixed IEEE divisions
    of exact operands, no rounding and no midpoint exposure at all;
    MCE folds the ten per-bin quotients through greatest() on one
    shared tree. Scale: ONE corpus pass, one global conditional
    aggregate, one output row."""
    scored = _quality_scored(load_table(spark, sf_dir, "documents"))
    g = scored.agg(
        F.count(F.lit(1)).cast("long").alias("nn"), *_bin_pivot_cols()
    )
    return g.select(
        F.col("nn").alias("n_docs"),
        F.expr(_ECE_EXPR).alias("ece"),
        F.expr(_MCE_EXPR).alias("mce"),
    )


@query(
    "llm_eval_mcc",
    oracle=f"""
    WITH {_pred_cte_sql()},
    cm AS (
      SELECT
        CAST(SUM(CASE WHEN lang = 'en' AND predicted_lang = 'en'
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN lang <> 'en' AND predicted_lang = 'en'
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN lang = 'en' AND predicted_lang <> 'en'
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN lang <> 'en' AND predicted_lang <> 'en'
                      THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM pred
    )
    SELECT tp, fp, fn, tn,
           CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy,
           CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0
                 AND (tn + fp) > 0 AND (tn + fn) > 0 THEN
             (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                    * (tn + fp) * (tn + fn))
           END AS mcc
    FROM cm
    """,
)
def llm_eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension — MATTHEWS CORRELATION COEFFICIENT of the binarized
    language gate (en vs rest): the single-number confusion summary
    that stays honest under class imbalance, where accuracy and even
    F1 inflate (Chicco & Jurman 2020) — the right headline for a
    curation gate that keeps one class and drops the rest, beside
    llm_eval_prf's per-class view and llm_eval_agreement's κ
    (κ measures rater agreement; MCC measures gate-vs-truth).

    Determinism: the four confusion cells are exact integer sums;
    accuracy is one division of exact ints, and MCC is ONE shared
    IEEE tree — (tp·tn − fp·fn) and the four marginal products each
    start from exact-long→double casts (< 2^53 for any conceivable
    corpus count) and reduce left-associatively identically in both
    engines — emitted unrounded. Any empty marginal (a degenerate
    all-one-class gate) emits NULL, never a 0/0 NaN.

    Scale: one corpus pass for the per-doc argmax (shared shape with
    llm_lang_id), then a single 4-cell global aggregate — output is
    O(1)."""
    pred = llm_lang_id(spark, sf_dir)
    t_en = F.col("lang") == "en"
    p_en = F.col("predicted_lang") == "en"
    cm = pred.agg(
        F.sum(F.when(t_en & p_en, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(~t_en & p_en, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(t_en & ~p_en, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~t_en & ~p_en, 1).otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc = F.when(
        ((tp + fp) > 0) & ((tp + fn) > 0) & ((tn + fp) > 0) & ((tn + fn) > 0),
        (tp.cast("double") * tn - fp.cast("double") * fn)
        / F.sqrt(
            (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
        ),
    )
    return cm.select(
        "tp", "fp", "fn", "tn",
        ((tp + tn).cast("double") / (tp + fp + fn + tn)).alias("accuracy"),
        mcc.alias("mcc"),
    )


@query(
    "llm_heaps_law",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
             SUM(len(string_split(text, ' ')))
               OVER (ORDER BY doc_id) AS run_toks
      FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
    firsts AS (
      SELECT w.word, CAST(MIN(r.rn) AS BIGINT) AS first_rn
      FROM ranked r, LATERAL unnest(string_split(r.text, ' ')) AS w(word)
      GROUP BY w.word
    ),
    deciles AS (
      SELECT g.k, (g.k * t.n) // 10 AS m
      FROM generate_series(1, 10) AS g(k), tot t
    ),
    prefix AS (
      SELECT d.k, d.m, CAST(r.run_toks AS BIGINT) AS tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts f
              WHERE f.first_rn <= d.m) AS types
      FROM deciles d JOIN ranked r ON r.rn = d.m
      WHERE d.m > 0
    ),
    beta AS (
      SELECT (round(ln(MAX(CASE WHEN k = 10 THEN types END)), 6)
              - round(ln(MIN(CASE WHEN k = 1 THEN types END)), 6))
             / (round(ln(MAX(CASE WHEN k = 10 THEN tokens END)), 6)
                - round(ln(MIN(CASE WHEN k = 1 THEN tokens END)), 6))
               AS heaps_beta
      FROM prefix
    )
    SELECT CAST(p.k AS INT) AS decile, p.m AS n_docs,
           p.tokens, p.types, b.heaps_beta
    FROM prefix p, beta b
    """,
)
def llm_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW vocabulary growth curve (Heaps 1978): distinct word
    types vs cumulative tokens at each corpus decile (docs in doc_id
    order), plus the β exponent from the endpoint log–log slope —
    the companion diagnostic to llm_zipf_fit (Zipf says how mass
    concentrates in the vocabulary you HAVE; Heaps says how fast new
    vocabulary ARRIVES — β ≈ 0.5 natural text, β → 1 synthetic/noisy,
    β → 0 templated). The curve is what sizes tokenizer vocabularies
    and dedup hash tables before a full-corpus pass.

    Determinism: token counts, prefix positions m = ⌊k·n/10⌋ (exact
    literals from ``bucketed_running`` totals), running token sums
    and first-occurrence ranks are all exact integers; type counts
    per decile are conditional counts over the word→first-rank
    table; β rounds each ln at the transcendental (libm rule), so
    the slope is one ratio of 6-dp decimal differences — identical
    in both engines. Uses the house single-space split convention
    (llm_token_count parity).

    Scale: one corpus pass to per-doc token counts, one explode pass
    to word→min(rank) (shuffle on word, the vocabulary space); the
    decile frame is O(10). The vocab growth estimate at 100 TB runs
    on a doc SAMPLE upstream — the curve shape, not the corpus, is
    the product."""
    from osm_airflow_spark.bucketing import bucketed_running

    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_toks"),
        F.lit(1).alias("one"),
    )
    ranked, totals = bucketed_running(docs, "doc_id", ["one", "n_toks"])
    n = totals["one"]
    if n == 0:
        return ranked.limit(0).select(
            F.lit(0).cast("int").alias("decile"),
            F.lit(0).cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("tokens"),
            F.lit(0).cast("long").alias("types"),
            F.lit(0.0).alias("heaps_beta"),
        )
    ranked = ranked.select(
        "doc_id",
        F.col("run_one").cast("long").alias("rn"),
        F.col("run_n_toks").cast("long").alias("run_toks"),
    ).localCheckpoint(eager=True)  # feeds firsts join + decile join
    firsts = (
        d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
        .groupBy("word")
        .agg(F.min("doc_id").alias("fdoc"))
        .join(
            ranked.select(
                F.col("doc_id").alias("fdoc"), F.col("rn").alias("first_rn")
            ),
            "fdoc",
        )
    )
    ms = [(k, (k * n) // 10) for k in range(1, 11) if (k * n) // 10 > 0]
    types_wide = firsts.agg(
        *[
            F.sum(F.when(F.col("first_rn") <= m, 1).otherwise(0))
            .cast("long")
            .alias(f"ty{k}")
            for k, m in ms
        ]
    )
    deciles = spark.createDataFrame(ms, "k int, m long")
    prefix = ranked.join(
        F.broadcast(deciles), F.col("rn") == F.col("m")
    ).select("k", "m", F.col("run_toks").alias("tokens"))
    joined = prefix.join(F.broadcast(types_wide))
    types_col = F.coalesce(
        *[F.when(F.col("k") == k, F.col(f"ty{k}")) for k, _ in ms]
    )
    out = joined.select(
        F.col("k").cast("int").alias("decile"),
        F.col("m").alias("n_docs"),
        "tokens",
        types_col.alias("types"),
        *[F.col(f"ty{k}") for k, _ in ms],
    )
    # beta pins its endpoints to deciles 1 and 10 EXACTLY like the
    # oracle: on a corpus of < 10 docs decile 1 has m = 0 and beta is
    # NULL in both engines
    have = {k for k, _ in ms}
    tok_wide = prefix.agg(
        *[
            F.max(F.when(F.col("k") == k, F.col("tokens"))).alias(f"tk{k}")
            for k in (1, 10)
            if k in have
        ]
    )
    out = out.join(F.broadcast(tok_wide))

    if 1 in have and 10 in have:
        beta_full = (
            F.round(F.log(F.col("ty10")), 6) - F.round(F.log(F.col("ty1")), 6)
        ) / (
            F.round(F.log(F.col("tk10")), 6) - F.round(F.log(F.col("tk1")), 6)
        )
    else:
        beta_full = F.lit(None).cast("double")
    return out.select(
        "decile", "n_docs", "tokens", "types",
        beta_full.alias("heaps_beta"),
    )


@query(
    "llm_pmi_collocations",
    oracle="""
    WITH g AS (
      SELECT unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1])) AS bg
      FROM documents
    ),
    bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_pair FROM g GROUP BY bg),
    sp AS (
      SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
             n_pair
      FROM bc
    ),
    fc AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_first
           FROM sp GROUP BY 1),
    sc AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_second
           FROM sp GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_bg FROM sp)
    SELECT w1, w2, n_pair, n_first, n_second,
           round(ln(CAST(n_pair AS DOUBLE) * n_bg
                    / (CAST(n_first AS DOUBLE) * n_second)), 6) AS pmi
    FROM sp JOIN fc USING (w1) JOIN sc USING (w2), tot
    WHERE n_pair >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 100
    """,
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — POINTWISE MUTUAL INFORMATION collocations (Church
    & Hanks 1990): the top-100 adjacent word pairs that co-occur far
    more than their positional unigram frequencies predict —
    PMI = ln(p(w1,w2) / (p1(w1)·p2(w2))) with position-conditioned
    marginals (w1 as a bigram head, w2 as a tail), count floor 5
    (the classic sparse-PMI guard). The association-strength
    complement to llm_bigram_lm's directional P(w2|w1): the LM ranks
    successors per head; PMI ranks PAIRS corpus-wide — the
    collocation/phrase-mining primitive of a training-data pipeline
    (multiword expressions, tokenizer merge candidates).

    Determinism: all counts are exact BIGINTs; the PMI argument is
    ONE shared IEEE tree (n_pair·N / (n_first·n_second), products
    < 2^53 through sf ~ 10 for this corpus' vocab); ln is rounded at
    the transcendental to 6 dp (the benford/mutual_info libm rule)
    and the top-100 order reads the ROUNDED pmi with a (w1, w2)
    lexicographic tie-break — a total order, so LIMIT is
    deterministic.

    Scale + lint: one corpus explode + one groupBy(bigram); the
    positional marginals are WINDOWS over the aggregated bigram
    table (partition = one word's successor/predecessor set, bounded
    by |V| — the bigram_lm no-join-back rule); the corpus total
    rides a broadcast 1-row aggregate over the localCheckpointed
    bigram table (checkpoint bounded by distinct bigrams ≤ |V|²,
    never the corpus); top-k is TakeOrderedAndProject, no global
    sort."""
    from pyspark.sql import Window

    from osm_airflow_spark.llm.dedup import shingle_array

    d = load_table(spark, sf_dir, "documents")
    bigrams = (
        d.select(F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
        .select(F.explode(shingle_array("words", 2)).alias("bg"))
    )
    bc = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .localCheckpoint(eager=True)  # window legs + the total scalar
    )
    parts = F.split("bg", " ")
    sp = bc.select(
        parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2"), "n_pair"
    )
    tot = sp.agg(F.sum("n_pair").cast("long").alias("n_bg"))
    n_first = F.sum("n_pair").over(Window.partitionBy("w1")).cast("long")
    n_second = F.sum("n_pair").over(Window.partitionBy("w2")).cast("long")
    enriched = (
        sp.withColumn("n_first", n_first)
        .withColumn("n_second", n_second)
        .where(F.col("n_pair") >= 5)
        .join(F.broadcast(tot))
    )
    pmi = F.round(
        F.log(
            (F.col("n_pair").cast("double") * F.col("n_bg"))
            / (F.col("n_first").cast("double") * F.col("n_second"))
        ),
        6,
    )
    return (
        enriched.select("w1", "w2", "n_pair", "n_first", "n_second",
                        pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(100)
    )


@query(
    "llm_rake_keywords",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, u.i AS pos, string_split(text, ' ')[u.i] AS w
      FROM documents,
           UNNEST(generate_series(1, len(string_split(text, ' '))))
             AS u(i)
    ),
    seg AS (
      SELECT doc_id, pos, w,
             CASE WHEN w IN ({{stops}}) THEN 1 ELSE 0 END AS st,
             SUM(CASE WHEN w IN ({{stops}}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM w
    ),
    ph AS (
      SELECT doc_id, sid,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM seg WHERE st = 0 GROUP BY doc_id, sid
      HAVING COUNT(*) BETWEEN 1 AND 4
    ),
    pw AS (
      SELECT phrase, n_words, unnest(string_split(phrase, ' ')) AS w
      FROM ph
    ),
    stats AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(n_words) AS BIGINT) AS deg
      FROM pw GROUP BY w
    ),
    dp AS (
      SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM ph GROUP BY 1, 2
    ),
    dpw AS (
      SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dp
    ),
    scored AS (
      SELECT d.phrase,
             SUM(CAST(round(CAST(s.deg AS DOUBLE) / s.freq, 6)
                      AS DECIMAL(18,6))) AS score
      FROM dpw d JOIN stats s USING (w) GROUP BY d.phrase
    )
    SELECT p.phrase, p.n_words, p.n_occ, CAST(s.score AS DOUBLE) AS score
    FROM dp p JOIN scored s USING (phrase)
    ORDER BY score DESC, phrase LIMIT 50
    """.replace("{stops}", _sql_list(_EN_STOP)),
)
def llm_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext (r14) — RAKE keyword extraction (Rose et al. 2010):
    candidate phrases are maximal stopword-free word runs (the
    engine's English stopword gate delimits them; runs longer than 4
    words are discarded — the standard length cap), each word scores
    deg(w)/freq(w) (degree counts every co-member of every phrase
    occurrence, frequency the occurrences), and a phrase scores the
    sum over its word INSTANCES — the unsupervised keyphrase miner
    beside TF-IDF (which needs a document axis) and PMI collocations
    (which only sees adjacent pairs). Top 50 by score.

    Determinism: deg/freq are exact BIGINTs; each word score is one
    shared IEEE division rounded at 6 dp (the quotient term rule)
    and phrase scores DECIMAL-SUM those rounded terms (order-free —
    never a float sum over an unordered word set); the top-50 reads
    the exact decimal score with a lexicographic phrase tie-break —
    a total order. Phrase reassembly is
    array_sort(collect_list(struct(pos, w))) per the collections
    rule (string_agg ORDER BY in the oracle).

    Scale + lint: the segment id is a RUNNING stopword count
    windowed PER DOCUMENT (bounded partition — the F-family
    contract); word stats are one corpus-bounded groupBy(word) and
    rejoin distinct phrases on word (the per-word join-back the
    no-exchange-reuse rule allows); phrase table localCheckpointed
    once for its stats/distinct legs; top-k is
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).withColumn("st", F.col("w").isin(*_EN_STOP).cast("int"))
    sid = F.sum("st").over(
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = w.withColumn("sid", sid).where(F.col("st") == 0)
    ph = (
        seg.groupBy("doc_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .where(F.col("n_words").between(1, 4))
        .localCheckpoint(eager=True)  # stats leg + distinct leg
    )
    pw = ph.select(
        "phrase", "n_words", F.explode(F.split("phrase", " ")).alias("w")
    )
    stats = pw.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("n_words").cast("long").alias("deg"),
    )
    dp = ph.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    dpw = dp.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    scored = (
        dpw.join(stats, "w")
        .groupBy("phrase")
        .agg(
            F.sum(
                F.round(
                    F.col("deg").cast("double") / F.col("freq"), 6
                ).cast("decimal(18,6)")
            ).alias("score")
        )
    )
    return (
        dp.join(scored, "phrase")
        .select(
            "phrase", "n_words", "n_occ",
            F.col("score").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(50)
    )
