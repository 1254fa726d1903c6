"""Text analysis over `documents`: token counting, quality scoring,
language ID, fingerprinting, tf-idf (P40 + the LLM-pipeline text ops).

The reference computes nothing over text (SURVEY.md §2.2 — its only
string op is the equality filter at
/root/reference/spark_process_script.py:37). These operators are the
text half of a training-data pipeline: everything a corpus curation
pass runs per document before dedup/filtering.

Every operator is pure Catalyst expression work — split / transform /
aggregate / regexp, no Python UDFs — so at 100 TB the cost is one
documents scan plus (for tf-idf) one explode + two shuffles. The
per-document ops (counts, quality, lang-id, fingerprint) are
shuffle-FREE: narrow map-only plans that scale linearly and never
repartition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.functions.textkit import (
    raw_shingles_of,
    sql_raw_shingles,
    tokens,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    local_frame,
    spread_table,
)

#: BPE-ish pre-tokenizer: letter runs, digit runs, single other glyphs.
#: Same regex class syntax in Java regex (Spark) and RE2 (DuckDB).
BPEISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"

#: English-y stopwords present in the synthetic vocabulary.
STOPWORDS = ("the", "a")

#: Marker vocabularies for the n-gram-heuristic language ID. Real
#: language ID scores character n-grams against per-language profiles;
#: the synthetic corpus has one shared vocabulary, so the profiles are
#: three disjoint marker sets — the *mechanism* (score per profile,
#: argmax with deterministic tie-break) is the real one.
LANG_PROFILES = {
    "en": ("the", "a", "value", "table"),
    "de": ("hash", "join", "group", "merge"),
    "fr": ("scan", "sort", "filter", "stream"),
}

# rolling-hash constants (fingerprinting): all intermediates stay well
# under 2^63 so ANSI-mode Spark never overflows: acc < 1e9+7,
# acc*P + tok < 1e9*1e6 + 2^21 < 2^63.
FP_MOD = 1_000_000_007
FP_P = 1_000_003


def _score(toks, words) -> F.Column:
    """Occurrence count of marker words in a token array (duplicates
    count — frequency matters, as in real n-gram profiles)."""
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lst, t)))


def _sql_score(words) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter(string_split(text, ' '), t -> list_contains({lst}, t)))"


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{BPEISH}')) AS n_bpeish_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document.

    The regex pre-tokenizer is the first stage of byte-pair-encoding
    tokenizers; counting its matches is the standard "how many tokens
    will this doc cost" estimate, here entirely JVM-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPEISH), F.lit(0))).alias(
            "n_bpeish_tokens"
        ),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_token_len,
           CAST({_sql_score(STOPWORDS)} AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: length, mean token length,
    stopword ratio, distinct-token ratio.

    These are the classic cheap corpus-quality filters (Gopher-style
    rules): each is one expression over the token array, and each
    ratio is a single integer/integer double division so the oracle
    matches bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        n_toks.alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_toks
        ).alias("mean_token_len"),
        (_score(toks, STOPWORDS).cast("double") / n_toks).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_toks).alias(
            "distinct_ratio"
        ),
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id,
           lang AS lang_labeled,
           {_sql_score(LANG_PROFILES["en"])} AS score_en,
           {_sql_score(LANG_PROFILES["de"])} AS score_de,
           {_sql_score(LANG_PROFILES["fr"])} AS score_fr,
           CASE
             WHEN {_sql_score(LANG_PROFILES["en"])} >= {_sql_score(LANG_PROFILES["de"])}
              AND {_sql_score(LANG_PROFILES["en"])} >= {_sql_score(LANG_PROFILES["fr"])}
               THEN 'en'
             WHEN {_sql_score(LANG_PROFILES["de"])} >= {_sql_score(LANG_PROFILES["fr"])}
               THEN 'de'
             ELSE 'fr'
           END AS lang_predicted
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: score each language profile,
    argmax with a fixed tie-break order (en > de > fr).

    Integer scores and a deterministic CASE ladder — no floating
    point, so prediction ties resolve identically cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    s_en = _score(toks, LANG_PROFILES["en"])
    s_de = _score(toks, LANG_PROFILES["de"])
    s_fr = _score(toks, LANG_PROFILES["fr"])
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        s_en.alias("score_en"),
        s_de.alias("score_de"),
        s_fr.alias("score_fr"),
        F.when((s_en >= s_de) & (s_en >= s_fr), "en")
        .when(s_de >= s_fr, "de")
        .otherwise("fr")
        .alias("lang_predicted"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(
               0::BIGINT,
               list_transform(string_split(text, ' '),
                              t -> (ascii(t) * 131 + length(t))::BIGINT)),
             (acc, x) -> (acc * {FP_P} + x) % {FP_MOD}) AS fingerprint,
           length(text) % 64 AS shard
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint.

    Polynomial rolling hash over per-token codes, mod 1e9+7 — the
    Rabin-Karp shape. Unlike a hash of the sorted token set, it
    distinguishes permuted documents; unlike xxhash64(text) it is
    engine-independent integer arithmetic the oracle reproduces
    exactly. `shard` shows the standard fingerprint→shard routing
    used to co-locate duplicate candidates at scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok_codes = F.transform(
        tokens("text"),
        lambda t: (F.ascii(t) * 131 + F.length(t)).cast("long"),
    )
    fp = F.aggregate(
        tok_codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_P + x) % FP_MOD,
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        (F.length("text") % 64).alias("shard"),
    )


@query(
    "text_ngrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bigrams AS (
        SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS bigram
        FROM toks, unnest(range(len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    ), counts AS (
        SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM bigrams GROUP BY bigram
    )
    SELECT bigram, n, n_docs,
           ROW_NUMBER() OVER (ORDER BY n DESC, bigram ASC) AS rank
    FROM counts
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: top-20 bigrams with occurrence
    and document frequency.

    Shape: per-doc bigram arrays (bound token column, no re-split) →
    explode → one hash aggregate with a count-distinct on doc_id →
    global top-k via ORDER BY + LIMIT, which plans as
    TakeOrderedAndProject (top-k per partition + merge) — then the
    rank column is attached AFTER the limit, so the row_number window
    only ever sees the 20 surviving rows. Ranking before the limit
    would funnel every distinct bigram (billions at 100 TB) through
    the window's single partition; the (n DESC, bigram ASC) total
    order makes ranks deterministic cross-engine either way.
    """
    docs = spread_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).where(
        F.size("t") >= 2
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("t")) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("t"), i + 1), F.element_at(F.col("t"), i + 2)
        ),
    )
    bigrams = toks.select("doc_id", F.explode(grams).alias("bigram"))
    counts = bigrams.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    top = counts.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("bigram").asc())
    return top.withColumn("rank", F.row_number().over(w))


#: Cap on the distinct-df idf lookup (overflow asserts rather than
#: silently truncating). Distinct df VALUES are bounded by the number
#: of distinct term-frequency counts — O(10^2-10^5) even at corpus
#: scale, never vocabulary-sized.
IDF_TABLE_CAP = 100_000


@query(
    "text_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2
    ), df AS (
        SELECT token, COUNT(*) AS df FROM counts GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT c.doc_id, c.token, c.tf, d.df,
           c.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0) AS tfidf
    FROM counts c JOIN df d USING (token) CROSS JOIN n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed tf-idf for every (document, token) pair.

    idf = ln((N+1)/(df+1)) + 1 (sklearn's smoothing — never divides
    by zero, never negative).

    Bit-exactness design (revised in round 5): the JVM's Math.log and
    glibc's log disagree by 1 ULP on some arguments — invisible at
    sf0.01, surfaced at sf0.1 (df=3847, N=5000 → Spark
    …99194 vs DuckDB …992). Rounding can't close a ULP gap safely
    (a boundary-straddling value flips), so the JVM is removed from
    the value chain instead: idf is PRECOMPUTED in Python over the
    distinct OBSERVED df values and broadcast-joined. Portability
    caveat: bit-exactness vs the oracle ASSUMES the driver Python's
    math.log and DuckDB's ln resolve to the SAME libm — true on this
    target (both glibc), not guaranteed on macOS/musl or a DuckDB
    build bundling its own math; a platform move must re-check via
    the sf0.1 strict sweep (tools/strict_sweep.py), which is what
    caught the original drift. That's the classic log-table technique, and
    it is scale-sane: distinct df values number in the hundreds here
    (capped + overflow-asserted at {IDF_TABLE_CAP}), so the collect
    is a bounded metadata-sized scalar fetch, same class as
    `scan_zone_map`'s capped manifest. tf × idf is then one IEEE
    multiply of identical doubles on both engines.

    Scale shape: explode → two hash aggregates (doc-term, then term)
    → broadcast df join → broadcast idf-table join. The document-
    frequency table is vocabulary-sized — tiny relative to the
    corpus — so it is explicitly broadcast.
    """
    import math

    from crime_data_batch_processing_spark import cachekit

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar; one job over parquet row-group stats
    # no _spread here: measured NEGATIVE on this key (1.29s → 1.78s
    # warm, r14) — tf-idf's cost is its two aggregates, not the
    # single-split explode, and the extra exchange is a net loss
    terms = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    counts = terms.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # persisted: the df table feeds BOTH the distinct-df scalar fetch
    # and the final broadcast join — without the cache the whole
    # explode→aggregate chain would run twice
    df = cachekit.track(
        counts.groupBy("token").agg(F.count(F.lit(1)).alias("df")).persist()
    )
    df_values = [
        r[0] for r in df.select("df").distinct().limit(IDF_TABLE_CAP + 1).collect()
    ]
    assert len(df_values) <= IDF_TABLE_CAP, "idf table cap overflow"
    idf_table = local_frame(
        spark,
        [
            (d, math.log((n_docs + 1.0) / (d + 1.0)) + 1.0)
            for d in df_values
        ],
        "df bigint, idf double",
    )
    return (
        counts.join(F.broadcast(df), "token")
        .join(F.broadcast(idf_table), "df")
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf") * F.col("idf")).alias("tfidf"),
        )
    )


#: Keyword extraction: top-K_KEYWORDS tokens per document by tf-idf.
#: Candidate tokens are >= KEYWORD_MIN_LEN chars (the BM25 query-term
#: discipline — short function words are never keywords; it also
#: subsumes the stopword list, whose members are all shorter).
K_KEYWORDS = 5
KEYWORD_MIN_LEN = 4


@query(
    "text_keyword_extract",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2
    ), df AS (
        SELECT token, COUNT(*) AS df FROM counts GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT c.doc_id, c.token, c.tf, d.df,
               c.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0) AS tfidf
        FROM counts c JOIN df d USING (token) CROSS JOIN n
        WHERE len(c.token) >= {KEYWORD_MIN_LEN}
    )
    SELECT doc_id, token, tf, df, tfidf, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id
            ORDER BY tfidf DESC, token ASC) AS rank
        FROM scored
    ) WHERE rank <= {K_KEYWORDS}
    """,
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keywords: the K_KEYWORDS highest-tf-idf tokens of
    each document — the topic-tagging / domain-labeling pass a corpus
    card or a mixture-weighting stage consumes (tf-idf keyword
    extraction is the classic zero-training baseline; a learned
    tagger drops into the same plan shape).

    Composes the registered `text_tfidf` kernel unchanged — including
    its Python-glibc idf log-table discipline, so the ranking doubles
    are bit-identical cross-engine and the rank cut is replayable —
    then filters to candidate tokens (>= KEYWORD_MIN_LEN chars) and
    cuts one per-document top-k window with a total-order tiebreak
    (tfidf DESC, token ASC).

    Scale shape: everything up to the window is `text_tfidf`'s
    verified shape (explode → two hash aggregates → two broadcast
    joins); the per-doc cut plans as WindowGroupLimit, so each
    partition trims to k rows per document before the rank shuffle —
    the shuffle moves O(docs · k) rows, not the corpus's token
    multiset.
    """
    scored = text_tfidf(spark, sf_dir).where(
        F.length("token") >= KEYWORD_MIN_LEN
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_KEYWORDS)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


#: PII patterns restricted to regex constructs with identical
#: semantics in Java (Spark) and RE2 (DuckDB): char classes, \d, \b,
#: bounded quantifiers. No lookarounds, no backrefs.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' Contact user' || doc_id ||
               '@example.com or call 555-' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' today.' AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, phone numbers) — the scrub
    pass every pretraining pipeline runs before tokenization.

    The synthetic corpus contains no real PII, so the query PLANTS a
    deterministic email + phone per document first (same augmentation
    in the oracle), making the scrub's effect non-trivial and
    hash-verified: counts prove detection, the scrubbed text proves
    redaction. Both engines replace ALL occurrences (Spark
    `regexp_replace` is global by default; DuckDB takes the 'g' flag),
    and the patterns use only Java/RE2-portable constructs.

    Pure Catalyst expressions — at 100 TB this is a shuffle-free
    map-only pass, exactly like the quality filters it composes with.
    """
    docs = spread_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" today."),
    )
    t = docs.select("doc_id", aug.alias("t"))
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


#: Repetition metrics use 2-gram multisets (Gopher-style "duplicate
#: n-gram fraction"): short enough that every real document has many,
#: long enough that repetition is structure, not vocabulary reuse.
REP_K = 2

_SQL_REPETITION = f"""
    WITH g AS (
        SELECT doc_id, unnest({sql_raw_shingles('text', REP_K)}) AS gram
        FROM documents
    ), per_gram AS (
        SELECT doc_id, gram, COUNT(*) AS c
        FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
               AS dup_gram_frac,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_gram_frac
    FROM per_gram GROUP BY doc_id
"""


@query("text_repetition", oracle=_SQL_REPETITION)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality metrics per document: duplicate-2-gram
    fraction and most-frequent-2-gram share (the Gopher repetition
    rules — a document whose text loops the same phrases is low-value
    training data no matter how clean each sentence looks; pipelines
    threshold on these columns).

    Shape: raw (multiset) 2-grams explode once, then two hash
    aggregates — (doc, gram) counts, then per-doc rollup. Both
    aggregates partially aggregate map-side, so the shuffle carries
    per-doc-distinct grams, not corpus tokens. Ratios are single IEEE
    divisions of exact int64 counts — bit-identical cross-engine.
    Documents with fewer than 2 tokens have no grams and no row (no
    repetition evidence either way).
    """
    docs = spread_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .where(F.size("toks") >= REP_K)
        .select(
            "doc_id", F.explode(raw_shingles_of(F.col("toks"), REP_K)).alias("gram")
        )
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        (
            (F.sum("c") - F.count(F.lit(1))).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_gram_frac"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_gram_frac"
        ),
    )


@query(
    "text_domain_mix",
    oracle="""
    WITH lc AS (
        SELECT source, lang, COUNT(*) AS c
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           COUNT(*) AS n_langs,
           CAST(SUM(c) * SUM(c) - SUM(c * c) AS DOUBLE)
               / CAST(SUM(c) * SUM(c) AS DOUBLE) AS lang_gini
    FROM lc GROUP BY source
    """,
)
def text_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: per ingestion source, how mixed is
    its language distribution (Gini impurity, 1 - sum(p_i^2))?

    The mixture dashboard a pretraining data team watches per domain/
    crawl: a source whose impurity collapses toward 0 went monolingual
    (crawler drift), one near 1 - 1/k is uniformly mixed. Gini is
    chosen over Shannon entropy deliberately: it needs only counts,
    products, and ONE final double division of two exact integers —
    bit-identical everywhere — while entropy's log() is libm-
    implementation-defined and differs in the last ulp across
    engines. Two map-side-combined aggregations ((source, lang) then
    source — the second over at most sources x languages rows), no
    window, no data skew exposure: the standard scalable shape for
    distribution-shape metrics at 100 TB.
    """
    lc = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    sumsq = F.sum(F.col("c") * F.col("c"))
    return lc.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        (
            (n * n - sumsq).cast("double") / (n * n).cast("double")
        ).alias("lang_gini"),
    )


#: Fixed integer weights of the linear quality model — the
#: deterministic stand-in for a trained fasttext-style filter. Signs
#: encode the standard priors: stopword presence and vocabulary
#: diversity indicate natural prose (+), very short documents and
#: over-long junk tokens indicate boilerplate/garbage (-). Integer
#: weights over integer features keep the score exact end-to-end.
QM_BIAS = -60
QM_W_TOKENS = 2       # per token (length prior)
QM_W_STOP = 25        # per stopword occurrence
QM_W_DISTINCT = 5     # per distinct token (diversity)
QM_W_LONG = -40       # per token longer than 12 chars (junk signal)
QM_THRESHOLD = 200


def quality_logit(toks: Column) -> Column:
    """The linear quality model's integer logit over a token-array
    column: QM_BIAS plus the weighted token, stopword, distinct-token
    and over-long-token counts. A document passes the quality gate
    when the logit is >= QM_THRESHOLD. Every key that scores or gates
    on document quality builds the logit here."""
    return (
        F.lit(QM_BIAS)
        + F.lit(QM_W_TOKENS) * F.size(toks)
        + F.lit(QM_W_STOP)
        * F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
        + F.lit(QM_W_DISTINCT) * F.size(F.array_distinct(toks))
        + F.lit(QM_W_LONG)
        * F.size(F.filter(toks, lambda t: F.length(t) > 12))
    )


@query(
    "text_quality_model",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_toks,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the', 'a'))) AS n_stop,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_filter(string_split(text, ' '),
                               t -> len(t) > 12)) AS n_long
        FROM documents
    )
    SELECT doc_id,
           CAST({QM_BIAS}
                + {QM_W_TOKENS} * n_toks
                + {QM_W_STOP} * n_stop
                + {QM_W_DISTINCT} * n_distinct
                + {QM_W_LONG} * n_long AS BIGINT) AS quality_score,
           ({QM_BIAS}
                + {QM_W_TOKENS} * n_toks
                + {QM_W_STOP} * n_stop
                + {QM_W_DISTINCT} * n_distinct
                + {QM_W_LONG} * n_long) >= {QM_THRESHOLD} AS keep
    FROM f
    """,
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a linear classifier over
    engineered features scores every document in one map-only pass —
    the fasttext-filter shape (CCNet, RefinedWeb, FineWeb) as opposed
    to `text_quality`'s hand-set ratio thresholds.

    The model here is a fixed INTEGER weight vector over integer
    features (token count, stopword hits, distinct tokens, over-long
    junk tokens), so scoring is exact arithmetic the oracle replays —
    no sigmoid (the keep decision only needs the logit side of the
    threshold, and exp() is libm, not correctly-rounded). A real
    deployment drops trained float weights into the same expression —
    per-row score cost is identical and there is still no shuffle:
    quality scoring is embarrassingly parallel and composes with the
    curation pipeline as a pushed filter.

    Feature extraction binds the token array once (`tokens` helper)
    and derives every feature from it — one tokenize per document,
    not one per feature.
    """
    docs = spread_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    logit = quality_logit(F.col("toks"))
    return toks.select(
        "doc_id",
        logit.cast("bigint").alias("quality_score"),
        (logit >= QM_THRESHOLD).alias("keep"),
    )


#: Probability quantum for the bigram LM: scores are integer counts of
#: millionths, so the whole likelihood chain is exact cross-engine.
LM_Q = 1_000_000


@query(
    "text_lm_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
        SELECT doc_id, t[i + 1] AS ctx, t[i + 1] || ' ' || t[i + 2] AS gram
        FROM tok, unnest(range(len(t) - 1)) AS u(i)
    ), cb AS (
        SELECT ctx, gram, COUNT(*) AS c_bi FROM g GROUP BY ctx, gram
    ), cu AS (
        SELECT ctx, CAST(SUM(c_bi) AS BIGINT) AS c_uni FROM cb GROUP BY ctx
    ), q AS (
        SELECT cb.gram, ({LM_Q} * cb.c_bi) // cu.c_uni AS q
        FROM cb JOIN cu ON cu.ctx = cb.ctx
    )
    SELECT g.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(q.q) AS BIGINT) AS lm_score
    FROM g JOIN q ON q.gram = g.gram
    GROUP BY g.doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model likelihood per document —
    the PERPLEXITY-FILTER shape of pretraining-data curation (KenLM
    scoring in CCNet/RefinedWeb pipelines): train counts on the corpus
    itself, score every document by how typical its token transitions
    are. Low scorers are boilerplate/garbled candidates; the signal
    complements `text_quality`'s surface heuristics and
    `text_quality_model`'s logit with actual sequence statistics.

    Exactness design: the conditional probability P(w2|w1) is
    quantized to integer millionths via integer division
    (({LM_Q} * c_bigram) div c_context — no float, no log, no libm),
    so per-doc score = SUM of exact integers, bit-equal cross-engine
    by construction. The standard log-prob form would reintroduce the
    JVM-vs-libm ULP drift `text_tfidf` had to engineer out; the
    quantized-likelihood form monotonically preserves the ranking the
    filter consumes.

    Scale shape: one explode of per-doc (ctx, gram) struct arrays
    (array built ONCE per row and the frame persisted before the
    explode — textkit's generator-reevaluation rule); bigram counts =
    one hash aggregate; context counts fold FROM the bigram table
    (vocabulary-sized input, not a second corpus pass); the
    gram→score join keys on the bigram string — the join strategy is
    left to AQE/size thresholds (no forced broadcast hint): a small
    vocabulary auto-broadcasts, a 100 TB-corpus vocabulary falls back
    to a key-partitioned shuffle join instead of OOMing the driver —
    exactly the `text_tfidf` df-join shape. Documents with fewer than
    two tokens have no transitions and no row (both engines).
    """
    from crime_data_batch_processing_spark import cachekit

    docs = spread_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    n = F.size("t")
    pairs = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.element_at(F.col("t"), i + 1).alias("ctx"),
            F.concat_ws(
                " ",
                F.element_at(F.col("t"), i + 1),
                F.element_at(F.col("t"), i + 2),
            ).alias("gram"),
        ),
    )
    # persist the frame HOLDING the computed array BEFORE exploding:
    # projection collapse would otherwise inline the transform() into
    # the generator and re-evaluate it per OUTPUT row (~n_tokens x
    # blowup — textkit's documented rule)
    with_pairs = cachekit.track(
        toks.select(
            "doc_id",
            F.when(n >= 2, pairs)
            .otherwise(
                F.array().cast("array<struct<ctx:string,gram:string>>")
            )
            .alias("pairs"),
        ).persist()
    )
    g = with_pairs.select(
        "doc_id", F.explode("pairs").alias("p")
    ).select("doc_id", "p.ctx", "p.gram")
    cb = g.groupBy("ctx", "gram").agg(F.count(F.lit(1)).alias("c_bi"))
    cu = cb.groupBy("ctx").agg(F.sum("c_bi").alias("c_uni"))
    q = cb.join(cu, "ctx").select(
        "gram", F.expr(f"({LM_Q} * c_bi) div c_uni").alias("q")
    )
    return (
        g.join(q, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("lm_score"),
        )
    )


#: BM25 parameters (Robertson/Sparck-Jones defaults) and the derived
#: constants spelled as LITERALS so the Spark expressions and the
#: oracle SQL parse the identical doubles (1.2+1.0 == 2.2 and
#: 1.0-0.75 == 0.25 hold exactly in IEEE, asserted in tests).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_K1P1 = 2.2  # k1 + 1
BM25_1MB = 0.25  # 1 - b
#: Every doc_id ≡ 0 (mod stride) becomes a retrieval query; its
#: distinct ≥4-char tokens are the query terms.
BM25_QUERY_STRIDE = 250
BM25_TOP_K = 10


def sql_bm25_ctes(
    query_pred: str,
    topk: int,
    exclude_self: bool = False,
    candidate_pred: str | None = None,
    exclude_pairs_cte: str | None = None,
) -> str:
    """CTE chain (no leading WITH, no final SELECT) computing
    BM25-ranked retrieval into a CTE named `lexranked` with columns
    (query_id, doc_id, n_terms, score, rank ≤ topk). `query_pred` is
    a predicate over `t.doc_id` choosing the query documents;
    `exclude_self` drops the query document from its own candidate
    set (the `sim_search` qid != vec_id convention); `candidate_pred`
    (over `c.doc_id`) restricts the CANDIDATE universe — ranks are
    then computed within that universe, not post-filtered after the
    cut. Shared by the `text_bm25`, `sim_search_rrf`, and
    `pipeline_eval_decontaminate` oracles — the BPE shared-prefix
    pattern, so the oracles can never drift apart on the scoring
    algebra. Corpus statistics (avgdl, df, idf) stay corpus-wide
    regardless of `candidate_pred`: the index is built once over the
    whole corpus; a query-time candidate restriction must not change
    term weights. `exclude_pairs_cte` names an earlier CTE with
    (query_id, doc_id) columns whose pairs are removed from the
    candidate set BEFORE aggregation, so ranks are computed over the
    surviving candidates (the hard-negative-mining exclusion)."""
    self_filter = "AND c.doc_id != q.query_id" if exclude_self else ""
    cand_filter = f"AND ({candidate_pred})" if candidate_pred else ""
    pair_filter = (
        f"AND NOT EXISTS (SELECT 1 FROM {exclude_pairs_cte} x "
        f"WHERE x.query_id = q.query_id AND x.doc_id = c.doc_id)"
        if exclude_pairs_cte
        else ""
    )
    return f"""tf AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT doc_id, dl, token, COUNT(*) AS tf
        FROM tf GROUP BY 1, 2, 3
    ), stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                   / COUNT(*) AS avgdl
        FROM documents
    ), df AS (
        SELECT token, COUNT(*) AS df FROM counts GROUP BY 1
    ), idf AS (
        SELECT d.df,
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5)
                        / (d.df + 0.5)) AS idf
        FROM (SELECT DISTINCT df FROM df) d CROSS JOIN stats s
    ), qterms AS (
        SELECT DISTINCT t.doc_id AS query_id, t.token
        FROM tf t
        WHERE ({query_pred}) AND len(t.token) >= 4
    ), scored AS (
        SELECT q.query_id, c.doc_id,
               COUNT(*) AS n_terms,
               CAST(SUM(CAST(
                   i.idf * ((CAST(c.tf AS DOUBLE) * {BM25_K1P1})
                            / (CAST(c.tf AS DOUBLE)
                               + {BM25_K1} * ({BM25_1MB}
                                  + {BM25_B} * (CAST(c.dl AS DOUBLE)
                                                / s.avgdl))))
                   AS DECIMAL(28,6))) AS DOUBLE) AS score
        FROM counts c
        JOIN qterms q ON q.token = c.token {self_filter} {cand_filter}
            {pair_filter}
        JOIN df d ON d.token = c.token
        JOIN idf i ON i.df = d.df
        CROSS JOIN stats s
        GROUP BY q.query_id, c.doc_id
    ), lexranked AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {topk}
    )"""


def _bm25_ranked(
    spark: SparkSession,
    sf_dir: str,
    query_pred,
    topk: int,
    exclude_self: bool = False,
    candidate_pred=None,
    exclude_pairs: DataFrame | None = None,
) -> DataFrame:
    """BM25-ranked retrieval (query_id, doc_id, n_terms, score,
    rank ≤ topk). `query_pred` is a Column predicate over `doc_id`
    choosing the query documents; `candidate_pred` (also over
    `doc_id`, optional) restricts the candidate universe BEFORE
    ranking, while corpus statistics stay corpus-wide (see
    :func:`sql_bm25_ctes`); `exclude_pairs` (optional DataFrame with
    query_id, doc_id columns) anti-joins specific (query, candidate)
    pairs out of the posting set before aggregation, so ranks are
    computed over the survivors. See :func:`text_bm25` for the
    scoring algebra, bit-exactness discipline, and scale shape — this
    is its body, parameterized so `sim_search_rrf`,
    `pipeline_eval_decontaminate`, and `sample_hard_negatives` reuse
    the identical value chain."""
    import math

    from crime_data_batch_processing_spark import cachekit

    # _spread before the tokenize/explode pass: the local documents
    # table is ONE parquet row group → one input split, so without it
    # the corpus-sized explode+count runs on a single core (r14
    # measured: counts materialization 1.8s single-split vs ~0.4s
    # spread; a real multi-split corpus skips the shuffle entirely)
    docs = spread_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("dl"),
        F.explode(tokens("text")).alias("token"),
    )
    # persisted: feeds the corpus stats, the df aggregate AND the
    # posting join — ONE tokenize pass over the corpus total
    counts = cachekit.track(
        terms.groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    # corpus stats fold FROM the persisted tf table (dl rides along
    # as a group key, so one distinct over doc-count rows — never a
    # second corpus-sized tokenize scan; split("") yields [""], so
    # every document, even empty text, has ≥1 counts row and the
    # doc count matches COUNT(*) over documents)
    n_docs, sum_dl = (
        counts.select("doc_id", "dl")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .first()
    )
    avgdl = sum_dl / n_docs  # exact ints < 2^53 → one IEEE division
    dft = cachekit.track(
        counts.groupBy("token").agg(F.count(F.lit(1)).alias("df")).persist()
    )
    df_values = [
        r[0]
        for r in dft.select("df").distinct().limit(IDF_TABLE_CAP + 1).collect()
    ]
    assert len(df_values) <= IDF_TABLE_CAP, "idf table cap overflow"
    idf_table = local_frame(
        spark,
        [
            (d, math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)))
            for d in df_values
        ],
        "df bigint, idf double",
    )

    qterms = (
        counts.filter(query_pred & (F.length("token") >= 4))
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )

    tfD = F.col("tf").cast("double")
    dlD = F.col("dl").cast("double")
    term_score = F.col("idf") * (
        (tfD * F.lit(BM25_K1P1))
        / (
            tfD
            + F.lit(BM25_K1)
            * (F.lit(BM25_1MB) + F.lit(BM25_B) * (dlD / F.lit(avgdl)))
        )
    )
    postings = counts.join(qterms, "token")
    if exclude_self:
        postings = postings.filter(F.col("doc_id") != F.col("query_id"))
    if candidate_pred is not None:
        postings = postings.filter(candidate_pred)
    if exclude_pairs is not None:
        postings = postings.join(
            exclude_pairs.select("query_id", "doc_id"),
            ["query_id", "doc_id"],
            "left_anti",
        )
    scored = (
        postings.join(F.broadcast(dft), "token")
        .join(F.broadcast(idf_table), "df")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(term_score.cast("double").cast("decimal(28,6)"))
            .cast("double")
            .alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "doc_id", "n_terms", "score", "rank")
    )


@query(
    "text_bm25",
    oracle=f"""
    WITH {sql_bm25_ctes(f"t.doc_id % {BM25_QUERY_STRIDE} = 0", BM25_TOP_K)}
    SELECT query_id, doc_id, n_terms, score, rank FROM lexranked
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-k documents per query — the
    retrieval half of decontamination/eval tooling that
    `text_decontaminate`'s membership probe stops short of, and the
    lexical sibling of the `sim_search` embedding ladder.

    score(q,d) = Σ_t idf(df_t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl)),
    k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5)) — the
    Robertson-Sparck-Jones formulation Lucene uses.

    Bit-exactness: reuses `text_tfidf`'s glibc-log discipline
    verbatim — idf is precomputed in PYTHON over the bounded distinct
    observed df values (capped + overflow-asserted at IDF_TABLE_CAP)
    and broadcast, so the JVM's 1-ULP-divergent Math.log never enters
    the value chain. Every other op in the per-term score is a plain
    IEEE +,·,/ with the SAME parenthesization and the SAME parsed
    literals on both engines (2.2/0.25 spelled as literals because
    1.2+1.0 and 1.0-0.75 happen to be exact; avgdl is one exact-int
    division both sides), so per-term scores are bit-identical and
    the per-(query,doc) fold is the order-independent decimal dsum.

    Scale shape — term-at-a-time retrieval: corpus tf table (one
    explode + one aggregate, dl carried as a group key so no
    doc-length join), df/idf tables vocabulary-sized and broadcast;
    the posting join keys on token against the query-term table —
    stride-derived here for oracle reproducibility, standing in for
    an external bounded query workload; its join strategy is left to
    AQE (a bounded query set auto-broadcasts; a corpus-scale one
    key-partitions instead of OOMing — the `text_lm_score` lesson).
    Top-k per query is one window with a total-order tiebreak.

    Body lives in :func:`_bm25_ranked` (parameterized by query
    predicate) so `sim_search_rrf` fuses the identical value chain.
    """
    return _bm25_ranked(
        spark,
        sf_dir,
        F.col("doc_id") % BM25_QUERY_STRIDE == 0,
        BM25_TOP_K,
    )


#: BPE-merge learning: rounds of (weighted adjacent-pair count →
#: argmax → merge). Vocabulary-sized after the one corpus word-count
#: pass — exactly how production tokenizer trainers scale.
BPE_ROUNDS = 3
#: Merge-pass semantics: ONE left-to-right non-overlapping
#: `replace(s, '·l·r·', '·lr·')` per round. Identical in Spark SQL
#: and DuckDB (probed: both miss the same delimiter-consumed overlap
#: in '·a·b·a·b·'), so the fixpoint is bit-replayable; it diverges
#: from canonical greedy BPE only on a pair repeated back-to-back
#: 2+ times inside one word, where the shared-delimiter occurrence
#: is skipped — a documented, deterministic simplification.


def _sql_bpe_parts(n_rounds: int = BPE_ROUNDS) -> tuple[str, str]:
    rounds = []
    prev_w = "w0"
    chosen: list[str] = []
    for i in range(1, n_rounds + 1):
        not_in = (
            f"WHERE NOT EXISTS (SELECT 1 FROM chosen{i - 1} c"
            f" WHERE c.l = p{i}.l AND c.r = p{i}.r)"
            if i > 1
            else ""
        )
        prev_chosen = (
            f"chosen{i - 1}" if i > 1 else None
        )
        rounds.append(f"""
    p{i} AS MATERIALIZED (
        SELECT a[u.i + 1] AS l, a[u.i + 2] AS r,
               SUM(freq) AS weight, COUNT(*) AS n_words
        FROM (SELECT string_split(trim(s, '·'), '·') AS a, freq
              FROM {prev_w}) t,
             unnest(range(len(a) - 1)) AS u(i)
        GROUP BY 1, 2
    ), m{i} AS MATERIALIZED (
        SELECT l, r, weight, n_words FROM p{i} {not_in}
        ORDER BY weight DESC, l ASC, r ASC LIMIT 1
    ), chosen{i} AS MATERIALIZED (
        SELECT l, r FROM m{i}
        {f'UNION ALL SELECT l, r FROM {prev_chosen}' if prev_chosen else ''}
    ), w{i} AS MATERIALIZED (
        SELECT replace(s, '·' || m.l || '·' || m.r || '·',
                       '·' || m.l || m.r || '·') AS s, freq
        FROM {prev_w}, m{i} m
    )""")
        chosen.append(f"SELECT {i} AS round, l, r, weight, n_words FROM m{i}")
        prev_w = f"w{i}"
    prefix = f"""words AS MATERIALIZED (
        SELECT word, COUNT(*)::BIGINT AS freq
        FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
              FROM documents) t
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY word
    ), w0 AS MATERIALIZED (
        SELECT '·' || array_to_string(string_split(word, ''), '·') || '·'
                   AS s,
               freq
        FROM words
    ), {', '.join(rounds)}"""
    readout = f"""
    SELECT CAST(round AS BIGINT) AS round, l, r,
           CAST(weight AS BIGINT) AS weight,
           CAST(n_words AS BIGINT) AS n_words
    FROM ({' UNION ALL '.join(chosen)}) m
    ORDER BY round
    """
    return prefix, readout


def _sql_bpe_apply_parts(n_rounds: int = BPE_ROUNDS) -> tuple[str, str]:
    """Generate the apply-side oracle pieces FROM the round count —
    the nested `replace(...)` chain over the per-round 1-row merge
    CTEs and the matching FROM list — so the oracle can never
    desynchronize from BPE_ROUNDS (round-7 advisor item: the chain
    was previously hand-unrolled for exactly 3 rounds)."""
    expr = "s"
    for i in range(1, n_rounds + 1):
        expr = (
            f"replace({expr},\n"
            f"                   '·' || m{i}.l || '·' || m{i}.r || '·',\n"
            f"                   '·' || m{i}.l || m{i}.r || '·')"
        )
    from_list = ", ".join(["dw"] + [f"m{i}" for i in range(1, n_rounds + 1)])
    return expr, from_list


_BPE_SQL_PREFIX, _BPE_SQL_READOUT = _sql_bpe_parts()
_BPE_SQL_APPLY_EXPR, _BPE_SQL_APPLY_FROM = _sql_bpe_apply_parts()


def _learn_merges(
    spark: SparkSession, sf_dir: str, n_rounds: int = BPE_ROUNDS
) -> list[tuple]:
    """Run the `n_rounds` BPE training loop; returns [(l, r, weight,
    n_words)] in merge order. Shared by `text_bpe_train` (which
    reports the table) and `text_bpe_apply` (which tokenizes the
    corpus with it) — one implementation, two readouts."""
    from crime_data_batch_processing_spark import cachekit

    docs = spread_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # LAZY persist: each round's argmax collect below is the frame's
    # first (and only cold) consumer, so it both materializes the
    # cache and returns the scalar — one job per round instead of the
    # eager count-then-collect two (the connected_components r14
    # lesson; r15 A/B: 1.55 s → 1.08 s warm, identical merge list).
    # No cache race: `pairs` is the single cold reference, and the
    # replace chain below it only runs after the collect returns.
    vocab = cachekit.track(
        words.select(
            F.concat(
                F.lit("·"),
                F.array_join(F.split("word", ""), "·"),
                F.lit("·"),
            ).alias("s"),
            "freq",
        ).persist()
    )
    merges: list[tuple] = []
    for rnd in range(1, n_rounds + 1):
        arr = F.split(F.expr("trim(BOTH '·' FROM s)"), "·")
        pairs = (
            vocab.select("freq", arr.alias("a"))
            .filter(F.size("a") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(a) - 2),"
                        " i -> struct(a[i] AS l, a[i + 1] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(
                F.sum("freq").alias("weight"),
                F.count(F.lit(1)).alias("n_words"),
            )
        )
        for l, r, _, _ in merges:
            pairs = pairs.filter(
                ~((F.col("l") == l) & (F.col("r") == r))
            )
        top = pairs.orderBy(
            F.desc("weight"), F.asc("l"), F.asc("r")
        ).limit(1).collect()[0]
        merges.append((top["l"], top["r"], top["weight"], top["n_words"]))
        merged = vocab.select(
            F.expr(
                f"replace(s, '·{top['l']}·{top['r']}·',"
                f" '·{top['l']}{top['r']}·')"
            ).alias("s"),
            "freq",
        )
        vocab = cachekit.track(merged.persist())
    return merges


@query(
    "text_bpe_train",
    oracle=f"WITH {_BPE_SQL_PREFIX}{_BPE_SQL_READOUT}",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-merge learning — the TOKENIZER-TRAINING shape
    of a pretraining pipeline: BPE_ROUNDS rounds of (weighted
    adjacent-symbol-pair count over the word vocabulary → argmax →
    merge applied to every word), returning the learned merge table
    (round, left, right, corpus weight, words containing the pair).

    Scale design — the reason real trainers (HuggingFace tokenizers,
    SentencePiece) handle 100 TB corpora: the corpus is touched ONCE,
    by the word-frequency aggregate (classic map-side-combine count);
    every merge round then operates on the VOCABULARY table —
    millions of rows at web scale, not the corpus — weighted by word
    frequency. Per round: one split+explode pair count (hash
    aggregate), one 1-row argmax fetch (bounded orchestration scalar,
    the `rollup_hypertable` watermark pattern; deterministic
    weight-DESC/pair-ASC tiebreak, previously chosen pairs excluded),
    one map-only `replace` pass re-deriving the symbol strings. The
    vocab frame is persisted once and each round's result replaces it
    (vocabulary-sized, explicitly re-persisted per round so the
    replace chain never re-runs the corpus scan).

    Exactness: counts are integers; symbol strings evolve through the
    engine-identical one-pass replace (see the module note on the
    delimiter-consumption semantics both engines share, probed
    bit-for-bit); the argmax total order is (weight DESC, l, r) — no
    floats anywhere, so all BPE_ROUNDS rounds replay exactly in the
    oracle's unrolled CTE chain.

    Reference parity: the reference has no text tooling at all
    (SURVEY.md §1.2 — one varchar-typed crime table); this extends
    the engine's pretraining-curation family (SURVEY.md §2.3).
    """
    merges = _learn_merges(spark, sf_dir)
    return local_frame(
        spark,
        [
            (i + 1, l, r, int(w), int(nw))
            for i, (l, r, w, nw) in enumerate(merges)
        ],
        "round bigint, l string, r string, weight bigint, n_words bigint",
    )


@query(
    "text_bpe_apply",
    oracle=f"""
    WITH {_BPE_SQL_PREFIX}, dw AS (
        SELECT doc_id,
               '·' || array_to_string(string_split(word, ''), '·') || '·'
                   AS s
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\\s+')) AS word
              FROM documents) t
        WHERE regexp_matches(word, '^[a-z]+$')
    ), applied AS (
        SELECT doc_id,
               {_BPE_SQL_APPLY_EXPR} AS s
        FROM {_BPE_SQL_APPLY_FROM}
    )
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_words,
           CAST(SUM(len(string_split(trim(s, '·'), '·'))) AS BIGINT)
               AS n_tokens
    FROM applied
    GROUP BY doc_id
    """,
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the LEARNED merge table — the apply
    half of the tokenizer pair (`text_bpe_train` learns; this is the
    production map-only pass every pretraining pipeline then runs
    over 100 TB): per document, each word's symbol string goes
    through the merge replaces IN LEARNED ORDER, and the document's
    subword token count is the sum of its words' symbol counts.

    Scale shape: training cost is paid once (vocabulary-sized rounds,
    see `_learn_merges`); the apply pass is embarrassingly parallel —
    explode words → BPE_ROUNDS chained `replace` expressions (all
    whole-stage-codegen'd JVM string ops, the merge list is
    driver-collected metadata of BPE_ROUNDS rows baked into the
    expression tree, the same broadcast-scalar pattern as
    `text_decontaminate`'s benchmark set) → one per-doc count
    aggregate. No Python in the corpus path, one shuffle (the final
    per-doc fold).

    Exactness: same engine-identical one-pass replace semantics as
    training (module note), applied in the same deterministic order;
    counts are integers. Docs whose words are all filtered by the
    [a-z]+ rule drop from BOTH engines' output identically (the
    GROUP BY sees no rows).
    """
    merges = _learn_merges(spark, sf_dir)
    # no _spread here: the corpus path carries a single-Exchange plan
    # contract (tests/test_plans.py bpe_apply stays-JVM-side) and the
    # spread measured neutral (2.25s vs 2.31s warm, r14) — the fold,
    # not the explode, dominates this key
    docs = load_table(spark, sf_dir, "documents")
    s = F.concat(
        F.lit("·"), F.array_join(F.split("word", ""), "·"), F.lit("·")
    )
    dw = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .select("doc_id", s.alias("s"))
    )
    col = F.col("s")
    for l, r, _, _ in merges:
        col = F.call_function(
            "replace", col, F.lit(f"·{l}·{r}·"), F.lit(f"·{l}{r}·")
        )
    n_sym = F.size(F.split(F.expr("trim(BOTH '·' FROM applied)"), "·"))
    return (
        dw.select("doc_id", col.alias("applied"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(n_sym).alias("n_tokens"),
        )
    )
