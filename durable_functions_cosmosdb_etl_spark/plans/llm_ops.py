"""LLM-training-data operator queries (SURVEY.md §2.2 north-star rows):
dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding),
similarity search (brute-force + IVF), text analysis, multimodal columns.

Oracle policy: everything SQL-expressible gets a DuckDB oracle built on
*identical* arithmetic (integer counts, same-order float folds); the
hash-randomized ops (MinHash, SimHash, IVF) are rows-only by nature and
are instead sanity-bounded in tests/ against their exact counterparts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import text as tx
from ..sources.tables import load_table
from .registry import query

_SH3 = (
    "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
    "for i in range(1, len(w) - 1)])"
)
_WORDS = r"string_split_regex(trim(text), '\s+')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=rf"""
    SELECT doc_id,
           CAST(len({_WORDS}) AS BIGINT)                     AS n_words,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT)                       AS n_chars
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace word count + BPE-ish regex token count per document."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        tx.word_count(t).alias("n_words"),
        tx.token_count(t).alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )


@query(
    "text_lang_id",
    extra=True,
    oracle=r"""
    WITH s AS (
        SELECT doc_id, lang,
            CAST(len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|is|in)\b')) AS BIGINT) AS s_en,
            CAST(len(regexp_extract_all(lower(text),
                 '\b(el|la|de|los|que|y)\b')) AS BIGINT)  AS s_es,
            CAST(len(regexp_extract_all(lower(text),
                 '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
            CAST(len(regexp_extract_all(lower(text),
                 '(的|是|在|了)')) AS BIGINT)              AS s_zh
        FROM documents)
    SELECT doc_id, lang, s_en, s_es, s_de, s_zh,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END AS pred_lang
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (deterministic n-gram heuristic)."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        "lang",
        tx.marker_score(t, "en").alias("s_en"),
        tx.marker_score(t, "es").alias("s_es"),
        tx.marker_score(t, "de").alias("s_de"),
        tx.marker_score(t, "zh").alias("s_zh"),
        tx.lang_id(t).alias("pred_lang"),
    )


@query(
    "text_quality",
    extra=True,
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
            CAST(length(text) AS BIGINT)                               AS n_chars,
            CAST(length(replace(text, ' ', '')) AS BIGINT)             AS non_space,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
                                                                       AS alpha,
            CAST(len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|is|in)\b')) AS BIGINT)              AS stop_hits
        FROM documents)
    SELECT doc_id, n_words, n_chars,
           CAST(non_space AS DOUBLE) / NULLIF(n_words, 0)  AS avg_word_len,
           CAST(stop_hits AS DOUBLE) / NULLIF(n_words, 0)  AS stop_ratio,
           CAST(alpha AS DOUBLE) / NULLIF(n_chars, 0)      AS alpha_ratio,
           (CAST(stop_hits AS DOUBLE) / NULLIF(n_words, 0)) * 0.5
             + (CAST(alpha AS DOUBLE) / NULLIF(n_chars, 0)) * 0.5
             + least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 AS quality
    FROM f
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/word-length/stopword/alpha ratios."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    f = tx.quality_features(t)
    return d.select(
        "doc_id",
        f["n_words"].alias("n_words"),
        f["n_chars"].alias("n_chars"),
        f["avg_word_len"].alias("avg_word_len"),
        f["stop_ratio"].alias("stop_ratio"),
        f["alpha_ratio"].alias("alpha_ratio"),
        tx.quality_score(t).alias("quality"),
    )


@query(
    "text_fingerprint",
    extra=True,
    oracle=rf"""
    SELECT doc_id,
           CAST(list_sum(list_transform({_WORDS},
                (x, i) -> i * (100 * length(x) + ascii(x))))
                % 1000000007 AS BIGINT) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (portable integers)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


@query(
    "text_repetition",
    extra=True,
    oracle=r"""
    WITH w AS (SELECT doc_id,
                      string_split_regex(trim(text), '\s+') AS w
               FROM documents),
    base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words
             FROM w WHERE len(w) >= 2),
    dw AS (SELECT doc_id, any_value(n_words) AS n_words,
                  count(DISTINCT word) AS n_distinct
           FROM (SELECT doc_id, n_words, unnest(w) AS word FROM base)
           GROUP BY doc_id),
    bc AS (SELECT doc_id, g, count(*) AS c
           FROM (SELECT doc_id,
                        unnest([w[i] || ' ' || w[i + 1]
                                for i in range(1, len(w))]) AS g
                 FROM base)
           GROUP BY doc_id, g),
    bm AS (SELECT doc_id, max(c) AS max_bg FROM bc GROUP BY doc_id)
    SELECT d.doc_id, d.n_words,
           1.0 - CAST(d.n_distinct AS DOUBLE) / d.n_words AS dup_word_frac,
           CAST(b.max_bg AS DOUBLE) / (d.n_words - 1)     AS top_bigram_frac
    FROM dw d JOIN bm b USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate
    word fraction (1 − distinct/total) and most-frequent-bigram fraction
    — the filters a training-data pipeline applies to drop boilerplate
    and degenerate repetition (Rae et al., Gopher, §A1.1 analogues for
    short docs; line/paragraph variants reduce to the same
    explode→count→max shape on a line-split).

    Two explode+aggregate passes, both keyed on doc_id — at 100 TB each
    is a map-side-combined hash aggregate with one shuffle of O(docs ×
    distinct terms), no joins across documents. Ratios are exact IEEE
    divisions of integers, so cross-engine hashing is safe without
    fixed-point.
    """
    d = _docs(spark, sf_dir)
    base = (
        d.select("doc_id", tx.words(F.col("text")).alias("w"))
        .withColumn("n_words", F.size("w").cast("long"))
        .filter(F.col("n_words") >= 2)
    )
    dw = (
        base.select("doc_id", "n_words", F.explode("w").alias("word"))
        .groupBy("doc_id")
        .agg(
            F.first("n_words").alias("n_words"),
            F.countDistinct("word").alias("n_distinct"),
        )
    )
    idx = F.sequence(F.lit(0), F.size("w") - 2)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(F.col("w"), i + 1, 2), " "))
    bm = (
        base.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"))
    )
    return dw.join(bm, "doc_id").select(
        "doc_id",
        "n_words",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words")).alias(
            "dup_word_frac"
        ),
        (F.col("max_bg").cast("double") / (F.col("n_words") - 1)).alias(
            "top_bigram_frac"
        ),
    )


@query(
    "text_analysis",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, lang, text,
            CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
            CAST(length(text) AS BIGINT)                               AS n_chars,
            CAST(length(replace(text, ' ', '')) AS BIGINT)             AS non_space,
            CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
                                                                       AS alpha,
            CAST(len(regexp_extract_all(lower(text),
                 '\b(the|and|of|to|is|in)\b')) AS BIGINT)              AS s_en,
            CAST(len(regexp_extract_all(lower(text),
                 '\b(el|la|de|los|que|y)\b')) AS BIGINT)               AS s_es,
            CAST(len(regexp_extract_all(lower(text),
                 '\b(der|die|das|und|ist)\b')) AS BIGINT)              AS s_de,
            CAST(len(regexp_extract_all(lower(text),
                 '(的|是|在|了)')) AS BIGINT)                           AS s_zh
        FROM documents)
    SELECT doc_id, lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END                        AS pred_lang,
           n_words, n_chars,
           CAST(non_space AS DOUBLE) / NULLIF(n_words, 0)  AS avg_word_len,
           CAST(s_en AS DOUBLE) / NULLIF(n_words, 0)       AS stop_ratio,
           CAST(alpha AS DOUBLE) / NULLIF(n_chars, 0)      AS alpha_ratio,
           (CAST(s_en AS DOUBLE) / NULLIF(n_words, 0)) * 0.5
             + (CAST(alpha AS DOUBLE) / NULLIF(n_chars, 0)) * 0.5
             + least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 AS quality,
           CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                (x, i) -> i * (100 * length(x) + ascii(x))))
                % 1000000007 AS BIGINT)              AS fp,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g')
                                                     AS scrubbed,
           CAST(len(regexp_extract_all(text,
                '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT) AS n_emails
    FROM f
    """,
)
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis suite in ONE scan-side select: language
    ID (marker-stopword heuristic), quality scoring (length / word-length
    / stopword / alpha ratios), rolling-hash fingerprint, and PII
    scrubbing (email/URL/phone redaction + count).

    Consolidates the text_lang_id / text_quality / text_fingerprint /
    text_scrub entries (still individually registered as extras) into a
    single driver-checked query. All JVM expressions, no shuffle — the
    shape of a 100 TB quality-gate pass: every feature computed in one
    pipelined scan of the corpus.
    """
    d = _docs(spark, sf_dir)
    t = F.col("text")
    f = tx.quality_features(t)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, r"[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
            r"https?://[^ ]+",
            "<URL>",
        ),
        r"[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]",
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        "lang",
        tx.lang_id(t).alias("pred_lang"),
        f["n_words"].alias("n_words"),
        f["n_chars"].alias("n_chars"),
        f["avg_word_len"].alias("avg_word_len"),
        f["stop_ratio"].alias("stop_ratio"),
        f["alpha_ratio"].alias("alpha_ratio"),
        tx.quality_score(t).alias("quality"),
        tx.fingerprint(t).alias("fp"),
        scrubbed.alias("scrubbed"),
        F.size(F.regexp_extract_all(t, F.lit(r"[a-z0-9.]+@[a-z0-9.]+"), 0))
        .cast("long")
        .alias("n_emails"),
    )


@query(
    "text_tfidf",
    oracle=rf"""
    WITH w AS (SELECT doc_id, unnest({_WORDS}) AS word FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS tf
           FROM w GROUP BY doc_id, word),
    dfreq AS (SELECT word, count(*) AS df_w FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, dfreq.df_w,
               CAST(round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df_w + 1.0))
                                   + 1.0) * 1000000) AS BIGINT) / 1000000.0
                   AS tfidf
        FROM tf JOIN dfreq USING (word) CROSS JOIN n)
    SELECT doc_id, word, tf, df_w, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, word) AS rn
        FROM scored) WHERE rn <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, in pure DataFrame ops.

    Plan shape: explode → (doc,word) hash agg → word-keyed document-
    frequency agg → equi-join on word → per-doc window top-k. Corpus
    size N enters via a broadcast 1-row cross join, not a driver
    collect. All shuffles key on (doc,word) or word — linear at 100 TB
    (pyspark.ml's HashingTF/IDF gives the same pipeline with hashed
    vocab when exact terms aren't needed; exact terms kept here for
    oracle parity). Smooth idf = ln((N+1)/(df+1)) + 1; scores rounded
    to 1e-6 (libm ulp differences), ties break on word.

    r13 optimization: ``tf`` is localCheckpoint-ed. The plan is a
    diamond — tf feeds BOTH the join probe side and the df_w aggregate —
    and Catalyst has no subplan sharing: column pruning rewrites the
    df_w branch into a distinct-shaped aggregate, so neither the
    CacheManager nor AQE stage reuse ever matches it (verified: the
    executed plan re-scanned and re-exploded documents). The checkpoint
    materializes the (doc, word, tf) table once per invocation
    (~|distinct doc-word| rows, far smaller than the exploded stream)
    and both branches read it: one scan+explode+aggregate instead of
    two — 1.46 s → 1.11 s clean median at sf0.1, scan count 2 → 1
    (plans/r13/text_tfidf_{before,after}.txt). At 100 TB the same move
    is "write tf to a table, read it twice" (guide §3.3: materialise
    an intermediate to truncate a re-used subplan); localCheckpoint is
    its single-application form — non-replicated blocks, so an executor
    loss kills the query (lineage is severed); the write-to-a-table form
    is the fault-tolerant production path (priced in SCALE.md §2d).
    Lazy (``eager=False``) since r14 so constructing the DataFrame does
    not run a job. Deliberately NOT .cache(): the
    CacheManager would serve the blocks across repeated invocations of
    the registered query, which would turn a bench's warm runs into
    cache reads — a measurement this engine refuses to game. Each
    invocation recomputes and re-materializes its own checkpoint.
    """
    docs = _docs(spark, sf_dir)
    w = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    ).select("doc_id", F.explode("ws").alias("word"))
    tf = (
        w.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        # eager=False (ADVICE r13): materialize at FIRST EXECUTION, not
        # at plan construction — explain()/schema inspection of the
        # registered query no longer runs a Spark job as a side effect.
        # The lineage-truncation and per-invocation-rematerialization
        # semantics are unchanged (see the docstring).
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df_w"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df_w",
            (
                F.round(
                    F.col("tf")
                    * (
                        F.log(
                            (F.col("n_docs") + 1.0) / (F.col("df_w") + 1.0)
                        )
                        + 1.0
                    )
                    * 1000000,
                    0,
                ).cast("long")
                / F.lit(1000000.0)
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tf", "df_w", "tfidf")
    )


@query(
    "text_ngram_df",
    extra=True,
    oracle=rf"""
    WITH d AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, lang, unnest({_SH3}) AS shingle
          FROM d WHERE len(w) >= 3),
    c AS (SELECT lang, shingle, count(*) AS df
          FROM s GROUP BY lang, shingle)
    SELECT lang, shingle, df, rnk FROM (
        SELECT lang, shingle, df,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY df DESC, shingle) AS BIGINT)
                   AS rnk
        FROM c) WHERE rnk <= 20
    """,
)
def text_ngram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram document-frequency table: top-20 3-gram shingles per
    language by the number of documents containing them.

    This is the diagnostic that justifies ``dedup_jaccard_capped``'s
    ``max_shingle_df`` parameter: the head of this table IS the list of
    stop-shingles whose inverted-index posting lists blow up the
    candidate join quadratically. A training-data pipeline runs this
    before picking the cap (and before LSH band sizing) — on a new
    corpus you read the df distribution off this output.

    Plan: word split once per doc → distinct shingles (array_distinct,
    so df counts documents, not occurrences) → explode → (lang, shingle)
    hash agg → per-lang top-k window. The only wide exchanges key on
    (lang, shingle) and lang — both linear at 100 TB; the final window
    runs on the already-aggregated df table (|vocab|, not |corpus|).

    r14 optimization (guide §2.5, the json_extract move): the test
    tables are single-row-group parquet, so the scan is ONE task and
    the regex word split + shingle explode + partial (lang, shingle)
    aggregate all ran single-threaded. ``fan_out`` round-robins the
    2-column (lang, text) projection across the cores first; it keys
    on ``defaultParallelism``, so it is a no-op at any real partition
    count (and for the driver's lower-core bench runs it adapts).
    Interleaved steal-clean A/B, two independent windows:
    1.130 → 1.029 and 1.264 → 1.172 s at sf0.1 (−7..9%); parity
    asserted in-session, oracle hash re-verified.
    """
    from pyspark.sql import Window

    from ..operators.dedup import fan_out

    d = _docs(spark, sf_dir)
    w = fan_out(d.select("lang", "text")).select(
        "lang", tx.words(F.col("text")).alias("w")
    )
    sh = (
        w.filter(F.size("w") >= 3)
        .select(
            "lang",
            F.explode(tx.shingles_from_words(F.col("w"))).alias("shingle"),
        )
    )
    c = sh.groupBy("lang", "shingle").agg(F.count(F.lit(1)).alias("df"))
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("df"), "shingle")
    )
    return (
        c.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= 20)
        .select("lang", "shingle", "df", "rnk")
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash groupBy on content, min-id keeper."""
    return dd.exact_dedup_groups(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "dedup_normalized",
    extra=True,
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                   '\s+', ' ', 'g')) AS norm
        FROM documents)
    SELECT min(doc_id) AS keeper_id,
           count(*)    AS n_copies,
           md5(norm)   AS norm_key
    FROM n GROUP BY norm
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-exact dedup: lowercase, strip punctuation,
    collapse whitespace, then hash-groupBy — the "fuzzy-exact" first
    pass every training pipeline runs BEFORE near-dup (it catches
    case/punctuation/whitespace variants at exact-dedup cost, shrinking
    the corpus the quadratic-ish near-dup stages see).

    Plan identical to dedup_exact: one hash aggregate keyed on the
    normalized text (at 100 TB, on md5 of it — the emitted norm_key IS
    that production key, so grouping by it is byte-equivalent). All
    JVM regex/string expressions, one shuffle of O(distinct norms).
    """
    d = _docs(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return (
        d.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_id", "n_copies", F.md5(F.col("norm").cast("binary")).alias("norm_key"))
    )


@query(
    "dedup_jaccard",
    oracle=rf"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, {_SH3} AS sh FROM d WHERE len(w) >= 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (inverted-index join).

    The oracle is the O(n²) formulation; the Spark plan is the inverted
    index (explode → equi-join on shingle → count) — same answer, but
    linear in co-occurring pairs instead of quadratic in docs.
    """
    return dd.jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


_JACCARD_DF_CAP = 50


@query(
    "dedup_jaccard_capped",
    oracle=rf"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, {_SH3} AS sh FROM d WHERE len(w) >= 3),
    ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g FROM s),
    keep AS (SELECT g FROM ex GROUP BY g
             HAVING count(*) <= {_JACCARD_DF_CAP}),
    k AS (SELECT ex.* FROM ex JOIN keep USING (g)),
    c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.n_sh AS na, b.n_sh AS nb, count(*) AS common
          FROM k a JOIN k b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b,
           CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
    FROM c
    WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5
    """,
)
def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production skew-capped Jaccard near-dup pairs.

    Same inverted-index plan as ``dedup_jaccard`` but shingles whose
    document frequency exceeds ``max_shingle_df`` are dropped from the
    index (stop-shingles cause quadratic candidate blowup: one shingle in
    10⁶ docs alone generates 5·10¹¹ join rows). Overlap counts shrink by
    the dropped shingles while set sizes stay exact, so the capped
    jaccard lower-bounds the true value — recall-only loss, precision
    1.0. The oracle expresses the identical cap, so this variant is
    fully hash-checked (not rows-only); recall vs the exact form is
    additionally gated in tests/test_dedup.py.
    """
    return dd.jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, max_shingle_df=_JACCARD_DF_CAP
    )


@query(
    "dedup_minhash",
    oracle=rf"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, {_SH3} AS sh FROM d WHERE len(w) >= 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) → banded LSH → exact-Jaccard-verified pairs, with
    bands sized for completeness (same recipe as dedup_embedding).

    Candidates come from the band equi-join; every candidate is verified
    with exact shingle Jaccard, so precision is 1.0. ``target_miss=1e-9``
    makes ``pick_bands`` choose a banding whose per-pair capture failure
    AT the threshold is <= 1e-9, so the output is statistically
    identical to the exact inverted-index join — which is exactly what
    the DuckDB all-pairs oracle computes.

    Operating point τ=0.7 (production near-dup territory): pick_bands
    gives 32 bands × 2 rows — miss 4.5e-10 with ~13× fewer random-pair
    collisions than single-row bands. At τ=0.5 completeness would force
    64×1 banding, where sign collisions stop pruning anything (measured
    ~9× slower at sf0.1) — that regime belongs to the exact
    inverted-index join (`dedup_jaccard`/`dedup_jaccard_capped`, both
    registered at τ=0.5). The 16×4 production default remains the
    `target_miss=None` path.
    """
    return dd.minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.7, target_miss=1e-9
    )


@query("dedup_minhash_prod", extra=True)  # probabilistic banding → rows-only
def dedup_minhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MinHash operating point: default 16 bands × 4 rows
    (target_miss=None), same τ=0.7 threshold as the oracle-equivalent
    `dedup_minhash`. Registered so the bench carries BOTH trend lines —
    the completeness banding `dedup_minhash` pays ~2× band rows for its
    ≤1e-9 miss bound (the r03 '+15%' that looked like a regression),
    while this is the cheaper curve a deployment actually runs. Not
    oracle-backed by construction: 16×4 banding has a nonzero miss
    probability near the threshold, so its output is a statistical
    subset of the all-pairs oracle."""
    return dd.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.7)


@query(
    "pipeline_dedup_full",
    extra=True,
    oracle=rf"""
    WITH RECURSIVE norm AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                   '\s+', ' ', 'g')) AS nm
        FROM documents),
    ek AS (SELECT nm, min(doc_id) AS exact_keeper FROM norm GROUP BY nm),
    d2e AS (SELECT n.doc_id, e.exact_keeper FROM norm n JOIN ek e USING (nm)),
    kd AS (SELECT d.doc_id, {_WORDS} AS w
           FROM documents d JOIN ek e ON d.doc_id = e.exact_keeper),
    s AS (SELECT doc_id, {_SH3} AS sh FROM kd WHERE len(w) >= 3),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                >= 0.5),
    e2 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs),
    r AS (
        SELECT src AS doc, src AS lab FROM (SELECT DISTINCT src FROM e2)
        UNION
        SELECT e2.dst, r.lab FROM r JOIN e2 ON r.doc = e2.src),
    comp AS (SELECT doc, min(lab) AS component FROM r GROUP BY doc)
    SELECT d2e.doc_id,
           coalesce(c.component, d2e.exact_keeper) AS final_keeper,
           d2e.doc_id = coalesce(c.component, d2e.exact_keeper) AS is_kept
    FROM d2e LEFT JOIN comp c ON d2e.exact_keeper = c.doc
    """,
)
def pipeline_dedup_full(
    spark: SparkSession, sf_dir: str, index_table: str | None = None
) -> DataFrame:
    """The COMPLETE dedup pipeline as one call: every document maps to
    the single document that survives for it, via (1) normalization +
    exact collapse (case/punct/whitespace variants at hash-agg cost),
    (2) exact Jaccard near-dup pairs among the exact keepers ONLY — the
    residual-graph strategy SCALE.md prescribes: the quadratic-ish
    stage never sees collapsed copies — and (3) connected components
    over the pair graph, min-id canonical keeper.

    Output: (doc_id, final_keeper, is_kept). Stage costs: one hash agg,
    one inverted-index join over the collapsed corpus, O(log n)
    star-contraction rounds for the components stage — each linear,
    shuffles keyed on norm-hash / shingle / doc id. The oracle replays
    all three stages in DuckDB (recursive CTE for the components
    stage).
    """
    d = _docs(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    groups = d.select("doc_id", norm.alias("nm"))
    exact = groups.groupBy("nm").agg(F.min("doc_id").alias("exact_keeper"))
    doc2exact = groups.join(exact, "nm").select("doc_id", "exact_keeper")
    if index_table is not None:
        # Full-corpus bucketed index, restricted to exact-collapse
        # keepers by broadcast semi-join (per-doc shingles are identical
        # whether shingled from the subset or filtered from the full
        # index) — the composed pipeline's near-dup stage then runs
        # shingle-free AND exchange-free, with no .cache() anywhere.
        keepers = exact.select(F.col("exact_keeper").alias("doc")).distinct()
        pairs = dd.jaccard_pairs_from_index(
            spark, index_table, threshold=0.5, docs_filter=keepers
        )
    else:
        keeper_docs = d.join(
            exact.select(F.col("exact_keeper").alias("doc_id")).distinct(),
            "doc_id",
        )
        pairs = dd.jaccard_pairs(keeper_docs, threshold=0.5)
    comp = dd.connected_components(pairs)
    return (
        doc2exact.join(
            comp, doc2exact.exact_keeper == comp.doc, "left"
        )
        .select(
            "doc_id",
            F.coalesce("component", "exact_keeper").alias("final_keeper"),
        )
        .withColumn("is_kept", F.col("doc_id") == F.col("final_keeper"))
    )


@query(
    "dedup_simhash",
    oracle=rf"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, {_SH3} AS sh FROM d WHERE len(w) >= 3),
    h AS (SELECT doc_id,
                 list_transform(sh, g -> list_reduce(
                     [CAST(ascii(substr(g, i, 1)) AS BIGINT)
                      for i in range(1, len(g) + 1)],
                     (acc, c) -> (acc * 31 + c) % 281474976710656)) AS hs
          FROM s WHERE len(sh) >= 1),
    sh2 AS (SELECT doc_id,
                   CAST(list_sum(
                       [CASE WHEN 2 * list_sum([(h >> i) & 1 for h in hs])
                                  > len(hs)
                             THEN (CAST(1 AS BIGINT) << i)
                             ELSE CAST(0 AS BIGINT) END
                        for i in range(0, 48)]) AS BIGINT) AS sim
            FROM h)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
    FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 5
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SimHash near-dup pairs, fully oracle-checked.

    48-bit SimHash over engine-portable polynomial shingle hashes
    (fold of acc*31+codepoint mod 2^48 — byte-identical in Spark and
    DuckDB), banded into 6 × 8-bit chunks with Hamming cutoff 5: by
    pigeonhole every pair within distance 5 shares an intact chunk, so
    the banded equi-join EXACTLY equals the oracle's brute-force
    all-pairs form — deterministic completeness, not probabilistic.
    The xxhash64 variant stays registered as dedup_simhash_fast (extra):
    same plan shape, cheaper hashing, engine-specific values.
    """
    return dd.simhash_pairs_portable(_docs(spark, sf_dir))


@query("dedup_simhash_fast", extra=True)  # engine-specific hash → rows-only
def dedup_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SimHash path: xxhash64 shingle hashes (JVM codegen),
    64-bit simhash, 4×16-bit banding, Hamming≤8 verification."""
    return dd.simhash_pairs(_docs(spark, sf_dir), max_hamming=8)


@query("dedup_minhash_ml", extra=True)  # library-randomized → rows-only
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml MinHashLSH.approxSimilarityJoin variant — the built-in
    library path beside the native banding in dedup_minhash; tests gate
    recall ≥0.9 vs exact Jaccard."""
    from ..operators.ml_lsh import ml_minhash_pairs

    return ml_minhash_pairs(_docs(spark, sf_dir), threshold=0.5)


@query(
    "dedup_components",
    oracle=rf"""
    WITH RECURSIVE d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, {_SH3} AS sh FROM d WHERE len(w) >= 3),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                >= 0.5),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS n FROM e),
    r AS (
        SELECT n AS doc, n AS lab FROM nodes
        UNION
        SELECT e.dst, r.lab FROM r JOIN e ON r.doc = e.src
    )
    SELECT doc, min(lab) AS component FROM r GROUP BY doc
    """,
)
def dedup_components(
    spark: SparkSession, sf_dir: str, index_table: str | None = None
) -> DataFrame:
    """Near-dup pairs → duplicate GROUPS via distributed connected
    components (alternating large-star/small-star contraction — O(log n)
    rounds on ANY topology, including duplicate chains; see
    operators/dedup.py). Oracle: DuckDB recursive CTE computing min
    reachable id. Restricted to nodes appearing in ≥1 pair (isolated
    docs are trivially their own component).

    The default path is :func:`operators.dedup.jaccard_components`: CC
    runs on the identical-content REPRESENTATIVE graph and group
    membership expands afterward — the quadratic within-clique pair
    expansion that ``connected_components(jaccard_pairs(...))`` would
    materialize (c(c−1)/2 edges per c-copy group, only to contract them
    again) never exists. Same answer (see the operator's proof sketch;
    equivalence pytest-gated), and the 64× replication probe drops from
    ~31 s to rep-graph cost. ``index_table`` (a
    :func:`persist_inverted_index` table) swaps in the bucketed
    inverted index, making the pair run shingle-free and exchange-free
    on the self-join — the 100 TB form (the index stores original docs,
    so that branch keeps the expanded-graph composition).
    """
    if index_table is not None:
        pairs = dd.jaccard_pairs_from_index(spark, index_table, threshold=0.5)
        return dd.connected_components(pairs)
    return dd.jaccard_components(_docs(spark, sf_dir), threshold=0.5)


@query(
    "dedup_contamination",
    oracle=rf"""
    WITH d AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, {_SH3} AS sh FROM d WHERE len(w) >= 3),
    bench AS (SELECT * FROM s WHERE doc_id % 10 = 0),
    train AS (SELECT * FROM s WHERE doc_id % 10 <> 0)
    SELECT DISTINCT t.doc_id,
           CAST(max(len(list_intersect(t.sh, b.sh))) AS DOUBLE)
               / len(t.sh) AS max_containment
    FROM train t JOIN bench b
      ON len(list_intersect(t.sh, b.sh)) >= 0.5 * len(t.sh)
    GROUP BY t.doc_id, len(t.sh)
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by n-gram containment: a training doc
    is contaminated when ≥50% of its 3-gram shingles appear in some
    held-out benchmark doc (split stand-in: doc_id % 10). Containment
    (|T∩B| / |T|), not Jaccard — a benchmark question embedded in a
    longer training doc still trips it.

    Plan: shared inverted index (explode → equi-join on shingle →
    per-pair counts) — linear in co-occurring pairs like dedup_jaccard;
    an exact-hash broadcast semi join would be the cheap first pass for
    verbatim contamination (this fixture has no verbatim dupes, so the
    overlap form is the operative check).

    Identical-content collapse (adaptive, same probe as the dedup
    family): containment |T∩B|/|T| is a pure function of the two
    shingle SETS, so identical train sets inherit their rep's result
    (membership expansion), and duplicate bench sets contribute nothing
    to the max (drop them outright — bench ids never reach the output).
    On the 64× replication probe the copies² candidate blowup in the
    train⋈bench join was the last super-linear engine stage
    (full-sweep growth 11.9× for 4× data → collapse makes it the
    distinct-content join).
    """
    return contamination_check(_docs(spark, sf_dir))


def contamination_check(d: DataFrame, collapse_identical="auto") -> DataFrame:
    """Body of ``dedup_contamination``, parameterized for the collapse
    equivalence test (both branches are byte-identical; see the query
    docstring for the argument)."""
    t_memb = None
    if dd._should_collapse(d, "text", collapse_identical):
        # Two-level collapse, applied PER SIDE (a text present in both
        # splits must keep both roles): byte-identical texts fold to
        # their min-id doc BEFORE the shingler — the 1024×
        # replication probe OOMed an 8 GB heap shingling all 5.12M
        # copies and windowing their (wide) shingle arrays; after the
        # fold both stages see only distinct content — then identical
        # shingle SETS fold among the text-reps. Each rep is a group
        # minimum, so the composed rep is the side-global min doc:
        # labels and pairs match the single-level collapse exactly.
        wset = Window.partitionBy(F.array_sort("sh"))
        t_memb0, t_reps0 = dd._text_collapsed(
            d.filter(F.col("doc_id") % 10 != 0), "doc_id", "text"
        )
        b_reps0 = dd._text_collapsed(
            d.filter(F.col("doc_id") % 10 == 0), "doc_id", "text"
        )[1]
        train_sh = dd._shingled(t_reps0, "doc", "__text", 3).filter(
            F.size("sh") > 0
        )
        bench_sh = dd._shingled(b_reps0, "doc", "__text", 3).filter(
            F.size("sh") > 0
        )
        # lazy localCheckpoint, not .cache() (r14 honesty rule, VERDICT
        # r13 #4): tm's diamond (membership + reps) shares one
        # materialization per invocation; no cross-invocation blocks.
        tm = train_sh.withColumn(
            "rep", F.min("doc").over(wset)
        ).localCheckpoint(eager=False)
        t_memb = (
            t_memb0.join(
                tm.select(F.col("doc").alias("rep0"), "rep"), "rep0"
            ).select("doc", "rep")
        )
        train = tm.filter(F.col("doc") == F.col("rep")).select(
            "doc", "n_sh", "sh"
        )
        bench = (
            bench_sh.withColumn("rep", F.min("doc").over(wset))
            .filter(F.col("doc") == F.col("rep"))
            .select("doc", "n_sh", "sh")
        )
    else:
        sh = dd._shingled(d, "doc_id", "text", 3).filter(F.size("sh") > 0)
        bench = sh.filter(F.col("doc") % 10 == 0)
        train = sh.filter(F.col("doc") % 10 != 0)
    t_ex = train.select(
        F.col("doc").alias("t_doc"), "n_sh", F.explode("sh").alias("g")
    )
    b_ex = bench.select(
        F.col("doc").alias("b_doc"),
        F.col("n_sh").alias("b_n_sh"),
        F.explode("sh").alias("g"),
    )
    # Size prune inside the join (semantics-preserving): containment
    # |T∩B|/|T| ≥ c needs |B| ≥ c·|T| since the intersection can't
    # exceed the benchmark doc's shingle count — undersized benchmark
    # pairs drop before the per-pair count aggregate. Slack keeps float
    # rounding strictly under-pruning; the exact filter below decides.
    common = (
        t_ex.join(
            b_ex,
            (t_ex.g == b_ex.g)
            & (
                F.col("b_n_sh").cast("double")
                >= 0.5 * F.col("n_sh") - 1e-9
            ),
        )
        .groupBy("t_doc", "b_doc", "n_sh")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 0.5 * F.col("n_sh"))
    )
    out = (
        common.groupBy(F.col("t_doc").alias("doc_id"), "n_sh")
        .agg(
            (F.max("common").cast("double") / F.col("n_sh")).alias(
                "max_containment"
            )
        )
        .select("doc_id", "max_containment")
        .distinct()
    )
    if t_memb is not None:
        # expand rep results to every identical-content train member
        out = (
            t_memb.join(out, t_memb.rep == out.doc_id)
            .select(F.col("doc").alias("doc_id"), "max_containment")
        )
    return out


@query(
    "dedup_substring",
    oracle="""
    WITH pos AS (SELECT unnest(range(0, 4096)) AS s),
    g AS (
        SELECT doc_id, substr(text, 1 + s, 32) AS g
        FROM documents, pos
        WHERE 1 + s + 31 <= len(text)),
    h AS (
        SELECT doc_id, g,
               CAST(list_reduce(
                  list_prepend(CAST(0 AS HUGEINT),
                               [CAST(unicode(substr(g, j, 1)) AS HUGEINT)
                                for j in range(1, 33)]),
                  (acc, c) -> (acc * 257 + c) % 2305843009213693951)
                    AS BIGINT) AS hh
        FROM g),
    fp AS (SELECT DISTINCT doc_id, g FROM h WHERE hh % 8 = 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact verbatim-substring dedup pairs: docs sharing ≥1 sampled
    32-char gram, with the count of shared sampled grams.

    The Lee-et-al. "Deduplicating Training Data" primitive re-expressed
    Spark-first: instead of a monolithic suffix array, each doc emits
    content-hash-sampled char k-grams (rolling polynomial hash ≡ 0 mod
    8 — position-independent, so shifted verbatim reuse still collides)
    and pairs come from a hash equi-join on the gram string (precision
    1.0 by construction). The oracle replicates the identical
    fold/sampling arithmetic in DuckDB (HUGEINT mod 2^61−1); its
    position table covers docs up to 4096+31 chars (fixture max is 553).
    """
    return dd.substring_pairs(_docs(spark, sf_dir))


@query(
    "dedup_embedding",
    oracle="""
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
                              * CAST(embedding[i] AS DOUBLE)
                              for i in range(1, len(embedding) + 1)])) AS nrm
        FROM embeddings)
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum([CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, len(a.embedding) + 1)])
            / (a.nrm * b.nrm) >= 0.35
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.35 (pairs only — excluding
    the float sim from output removes all cross-engine fp surface except
    the threshold itself).

    ``cosine_pairs_lsh`` auto mode picks the regime from the threshold:
    at τ=0.35 no completeness-preserving sign-LSH banding can prune
    (a random pair still collides in ~8 of 128 bands), so the plan is
    the block-GEMM exact path — block-summary join over n_blocks² rows,
    one numpy matmul per block pair, 13× faster than the banding it
    replaced at sf0.1. At τ≥0.7 the same call sites get the banded
    equi-join. See operators/similarity.cosine_pairs_exact_blocked.
    """
    return sim.cosine_pairs_lsh(_emb(spark, sf_dir), threshold=0.35)


@query(
    "dedup_semantic",
    extra=True,
    oracle="""
    WITH c AS (SELECT vec_id, embedding FROM embeddings),
    seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id,
               embedding AS se
        FROM (SELECT vec_id, embedding FROM c ORDER BY vec_id LIMIT 10)),
    fit_sc AS (
        SELECT c.vec_id, s.centroid_id,
               list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(s.se[i] AS DOUBLE)
                         for i in range(1, len(c.embedding) + 1)])
               / (sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE)
                                 * CAST(c.embedding[i] AS DOUBLE)
                                 for i in range(1, len(c.embedding) + 1)]))
                  * sqrt(list_sum([CAST(s.se[i] AS DOUBLE) * CAST(s.se[i] AS DOUBLE)
                                   for i in range(1, len(s.se) + 1)]))) AS sim
        FROM c, seeds s),
    fit_assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM fit_sc) WHERE rn = 1),
    vals AS (
        SELECT fa.centroid_id,
               unnest(range(1, len(c.embedding) + 1)) AS pos,
               unnest([CAST(x AS DOUBLE) for x in c.embedding]) AS val
        FROM fit_assign fa JOIN c USING (vec_id)),
    cent AS (
        SELECT centroid_id, list(mf ORDER BY pos) AS ce
        FROM (SELECT centroid_id, pos, CAST(avg(val) AS FLOAT) AS mf
              FROM vals GROUP BY centroid_id, pos)
        GROUP BY centroid_id),
    cell_sc AS (
        SELECT c.vec_id, ct.centroid_id,
               list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)
                         for i in range(1, len(c.embedding) + 1)])
               / (sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE)
                                 * CAST(c.embedding[i] AS DOUBLE)
                                 for i in range(1, len(c.embedding) + 1)]))
                  * sqrt(list_sum([CAST(ct.ce[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)
                                   for i in range(1, len(ct.ce) + 1)]))) AS sim
        FROM c, cent ct),
    cells AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM cell_sc) WHERE rn = 1),
    dropped AS (
        SELECT DISTINCT cb.vec_id
        FROM cells ca
        JOIN cells cb
          ON ca.centroid_id = cb.centroid_id AND ca.vec_id < cb.vec_id
        JOIN c a ON ca.vec_id = a.vec_id
        JOIN c b ON cb.vec_id = b.vec_id
        WHERE list_sum([CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)
                        for i in range(1, len(a.embedding) + 1)])
              / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE)
                                * CAST(a.embedding[i] AS DOUBLE)
                                for i in range(1, len(a.embedding) + 1)]))
                 * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE)
                                  * CAST(b.embedding[i] AS DOUBLE)
                                  for i in range(1, len(b.embedding) + 1)])))
              >= 0.35)
    SELECT cl.vec_id, cl.centroid_id, (d.vec_id IS NULL) AS kept
    FROM cells cl LEFT JOIN dropped d ON cl.vec_id = d.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup, arXiv:2303.09540): k-means cells
    via the deterministic IVF codebook, near-dup search ONLY within each
    cell — O(N²) pair work becomes O(N²/k) by construction, and the
    within-cell scoring is one numpy GEMM per cell. Keeps the lowest-id
    member of every near-dup relation; output is one (vec_id,
    centroid_id, kept) row per input vector.

    Oracle: full DuckDB replica of the pipeline (same CTE chain as
    ``similarity_ivf``'s oracle — seeds → one Lloyd step → assign —
    then the within-cell pair join). Every stage is deterministic; the
    float32 centroid cast absorbs double sum-order noise, and cosines
    near the 0.35 threshold are far from the ~1e-16 GEMM-vs-fold
    disagreement band at this SF. Replica validity bound: same as
    ``similarity_ivf`` (full-corpus fit while corpus < 8000 rows at
    defaults).
    """
    return sim.semantic_dedup(
        _emb(spark, sf_dir), threshold=0.35, n_clusters=10
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@query(
    "similarity_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce
          FROM embeddings WHERE vec_id >= 5),
    scored AS (
        SELECT query_id, neighbor_id,
               list_sum([CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)
                         for i in range(1, len(qe) + 1)])
               / (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
                                 for i in range(1, len(qe) + 1)]))
                  * sqrt(list_sum([CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)
                                   for i in range(1, len(ce) + 1)]))) AS sim
        FROM q, c)
    SELECT query_id, neighbor_id,
           CAST(round(sim * 1000000) AS BIGINT) / 1000000.0 AS sim,
           rank FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
    WHERE rank <= 10
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors vec_id<5.

    Broadcast queries over the corpus scan; dot/norm are sequential
    left-to-right double folds in both engines → bit-identical sims →
    identical ranking.
    """
    em = _emb(spark, sf_dir)
    out = sim.brute_force_topk(
        em.filter(F.col("vec_id") >= 5), em.filter(F.col("vec_id") < 5), k=10
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.round(F.col("sim") * 1000000, 0).cast("long") / F.lit(1000000.0)).alias(
            "sim"
        ),
        "rank",
    )


@query(
    "similarity_ivf",
    oracle="""
    WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
    q AS (SELECT vec_id AS query_id, embedding AS qe
          FROM embeddings WHERE vec_id < 5),
    seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id,
               embedding AS se
        FROM (SELECT vec_id, embedding FROM c ORDER BY vec_id LIMIT 10)),
    fit_sc AS (
        SELECT c.vec_id, s.centroid_id,
               list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(s.se[i] AS DOUBLE)
                         for i in range(1, len(c.embedding) + 1)])
               / (sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE)
                                 * CAST(c.embedding[i] AS DOUBLE)
                                 for i in range(1, len(c.embedding) + 1)]))
                  * sqrt(list_sum([CAST(s.se[i] AS DOUBLE) * CAST(s.se[i] AS DOUBLE)
                                   for i in range(1, len(s.se) + 1)]))) AS sim
        FROM c, seeds s),
    fit_assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM fit_sc) WHERE rn = 1),
    vals AS (
        SELECT fa.centroid_id,
               unnest(range(1, len(c.embedding) + 1)) AS pos,
               unnest([CAST(x AS DOUBLE) for x in c.embedding]) AS val
        FROM fit_assign fa JOIN c USING (vec_id)),
    cent AS (
        SELECT centroid_id, list(mf ORDER BY pos) AS ce
        FROM (SELECT centroid_id, pos, CAST(avg(val) AS FLOAT) AS mf
              FROM vals GROUP BY centroid_id, pos)
        GROUP BY centroid_id),
    cell_sc AS (
        SELECT c.vec_id, ct.centroid_id,
               list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)
                         for i in range(1, len(c.embedding) + 1)])
               / (sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE)
                                 * CAST(c.embedding[i] AS DOUBLE)
                                 for i in range(1, len(c.embedding) + 1)]))
                  * sqrt(list_sum([CAST(ct.ce[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)
                                   for i in range(1, len(ct.ce) + 1)]))) AS sim
        FROM c, cent ct),
    cells AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM cell_sc) WHERE rn = 1),
    probe_sc AS (
        SELECT q.query_id, ct.centroid_id,
               list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)
                         for i in range(1, len(q.qe) + 1)])
               / (sqrt(list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
                                 for i in range(1, len(q.qe) + 1)]))
                  * sqrt(list_sum([CAST(ct.ce[i] AS DOUBLE) * CAST(ct.ce[i] AS DOUBLE)
                                   for i in range(1, len(ct.ce) + 1)]))) AS csim
        FROM q, cent ct),
    probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT query_id, centroid_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY csim DESC, centroid_id) AS rn
            FROM probe_sc) WHERE rn <= 3),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                         for i in range(1, len(q.qe) + 1)])
               / (sqrt(list_sum([CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)
                                 for i in range(1, len(q.qe) + 1)]))
                  * sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE)
                                   * CAST(c.embedding[i] AS DOUBLE)
                                   for i in range(1, len(c.embedding) + 1)]))) AS sim
        FROM probes p
        JOIN cells cl USING (centroid_id)
        JOIN c ON cl.vec_id = c.vec_id
        JOIN q ON p.query_id = q.query_id)
    SELECT query_id, neighbor_id,
           CAST(round(sim * 1000000) AS BIGINT) / 1000000.0 AS sim, rank
    FROM (SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (nprobe=3 of 10 cells) — the scale path.

    Now hash-checked against a full DuckDB replica of the pipeline
    (seed → one Lloyd step → assign → probe → rescore): every stage is
    deterministic — seeds are the 10 lowest-id corpus vectors, argmin /
    top-k ties break on centroid_id / neighbor_id, per-dimension
    centroid means are quantized to float32 (which absorbs sum-order
    noise in the double accumulation, ~1e-16 relative, far below the
    2^-24 float32 quantum), and all cosines are sequential left-to-right
    double folds in both engines. The oracle replicates the small-corpus
    guard path of ``fit_ivf_centroids`` — full-corpus fitting, which
    holds while the corpus is under ``min_fit_rows × n_centroids /
    fit_fraction`` rows (8000 at defaults; sf0.01's 495 and sf0.1's
    4950 both qualify). Beyond that the engine fits on the xxhash64
    sample, which SQL cannot express — re-derive the oracle bound before
    gating at larger SFs. Tests additionally assert recall@10 vs brute
    force.
    """
    em = _emb(spark, sf_dir)
    out = sim.ivf_topk(
        em.filter(F.col("vec_id") >= 5),
        em.filter(F.col("vec_id") < 5),
        k=10,
        n_centroids=10,
        nprobe=3,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.round(F.col("sim") * 1000000, 0).cast("long") / F.lit(1000000.0)).alias(
            "sim"
        ),
        "rank",
    )


@query("similarity_ivf_prod", extra=True)  # kcenter fit → rows-only
def similarity_ivf_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF operating point: deterministic greedy
    farthest-point seeding (``init="kcenter"``) plus 3 Lloyd refinement
    steps — the codebook a deployment actually fits, vs the
    oracle-equivalent ``similarity_ivf``'s lowest-id seeds + 1 step
    (kept there because the DuckDB replica expresses exactly that
    pipeline). Registered so the bench carries BOTH trend lines, the
    same split as dedup_minhash / dedup_minhash_prod. Not oracle-backed
    by construction (greedy k-center + iterated Lloyd are not
    SQL-replicated); recall vs brute force is pytest-gated instead
    (tests/test_similarity.py kcenter test)."""
    em = _emb(spark, sf_dir)
    out = sim.ivf_topk(
        em.filter(F.col("vec_id") >= 5),
        em.filter(F.col("vec_id") < 5),
        k=10,
        n_centroids=10,
        nprobe=3,
        init="kcenter",
        n_iters=3,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        (F.round(F.col("sim") * 1000000, 0).cast("long") / F.lit(1000000.0)).alias(
            "sim"
        ),
        "rank",
    )


@query("similarity_brp_lsh", extra=True)  # approximate → rows-only
def similarity_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH approximate top-10 — pyspark.ml's
    built-in ANN join beside the native IVF; tests gate mean recall@10
    ≥0.8 vs brute force."""
    from ..operators.ml_lsh import ml_brp_lsh_neighbors

    em = _emb(spark, sf_dir)
    return ml_brp_lsh_neighbors(
        em.filter(F.col("vec_id") >= 5), em.filter(F.col("vec_id") < 5), k=10
    )


# --------------------------------------------------------------------------
# Multimodal columns
# --------------------------------------------------------------------------


@query(
    "multimodal_meta",
    oracle="""
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes
               FROM documents),
    d AS (SELECT doc_id, n_bytes,
                 16 + (n_bytes % 64)         AS w0,
                 16 + ((n_bytes // 64) % 64) AS h0
          FROM m),
    s AS (SELECT doc_id, n_bytes, w0, h0,
                 greatest(w0, h0)            AS side,
                 least(greatest(w0, h0), 32) AS clamp
          FROM d)
    SELECT doc_id, 'application/octet-stream' AS mime,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(greatest(1, w0 * clamp // side) AS INT) AS width,
           CAST(greatest(1, h0 * clamp // side) AS INT) AS height,
           3 AS n_channels
    FROM s
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end to end: text→bytes wrap with typed
    metadata, then the decode → resize mapInPandas chain (two Arrow
    stages, no shuffle between them), projecting metadata + resized
    dims. The fake codec's dims are deterministic integer arithmetic on
    payload size, so the whole Python pipeline is oracle-checked.
    (Absorbs the former multimodal_resize entry — kept as an extra.)

    r13 optimization: mime/n_bytes ride THROUGH the decode+resize chain
    (``decode_image_batch(passthrough=...)``) instead of being re-read
    in a second scan and re-attached with a doc_id join — the previous
    plan shuffled the whole corpus on both join sides purely to re-pair
    two metadata columns with the dims the same scan produced. Plan:
    2 parquet scans + sort-merge join (2 exchanges) → 1 scan, 0
    exchanges (plans/r13/… not benched; shape verified by explain).
    Output identical — the oracle hash is unchanged.
    """
    media = mm.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    resized = mm.resize_batch(
        mm.decode_image_batch(media, passthrough=("mime", "n_bytes")),
        max_side=32,
    )
    return resized.select(
        "doc_id", "mime", "n_bytes", "width", "height", "n_channels"
    )


@query(
    "multimodal_decode",
    oracle="""
    WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
    c AS (SELECT doc_id, n,
                 coalesce(list_sum(
                     [(strpos('0123456789ABCDEF',
                              substr(hx, 2*i-1, 1)) - 1) * 16
                      + (strpos('0123456789ABCDEF',
                                substr(hx, 2*i, 1)) - 1)
                      for i in range(1, least(n, 64) + 1)]), 0) AS checksum
          FROM m)
    SELECT doc_id,
           CAST(16 + (n % 64) AS INT)          AS width,
           CAST(16 + ((n // 64) % 64) AS INT)  AS height,
           3                                    AS n_channels,
           8                                    AS feat_dim,
           CAST(list_sum([(checksum + i * 31) % 256
                          for i in range(0, 8)]) AS BIGINT) AS feat_bytes
    FROM c
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode stage (deterministic fake codec;
    real Spark plumbing — schema, batching, per-partition execution).

    The decoded dims and the feature vector are pure functions of the
    payload BYTES (operators/multimodal._fake_decode): width/height from
    the byte length, features from a checksum of the first 64 bytes. The
    oracle replays that byte arithmetic in DuckDB (hex(encode(text)) →
    per-byte values via hex-digit lookup), so the whole Python decode
    path is hash-checked. The feature floats are projected back to their
    exact integer byte values (round(f*255)) — float32 quantization is
    reversible here, keeping the comparison integer-exact; the raw
    vector itself stays covered by tests.
    """
    media = mm.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    decoded = mm.decode_image_batch(media)
    return decoded.select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        F.size("feature").alias("feat_dim"),
        F.aggregate(
            "feature",
            F.lit(0).cast("long"),
            lambda a, x: a + F.round(x.cast("double") * 255, 0).cast("long"),
        ).alias("feat_bytes"),
    )


@query(
    "multimodal_resize",
    extra=True,
    oracle="""
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    d AS (SELECT doc_id,
                 16 + (n % 64)        AS w0,
                 16 + ((n // 64) % 64) AS h0
          FROM m),
    s AS (SELECT doc_id, w0, h0,
                 greatest(w0, h0)            AS side,
                 least(greatest(w0, h0), 32) AS clamp
          FROM d)
    SELECT doc_id,
           CAST(greatest(1, w0 * clamp // side) AS INT) AS width,
           CAST(greatest(1, h0 * clamp // side) AS INT) AS height,
           3 AS n_channels
    FROM s
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode → resize pipeline: two chained mapInPandas stages, no
    shuffle between them. The fake codec's dims are deterministic
    integer arithmetic on payload size, so the whole two-stage Python
    pipeline is oracle-checked end to end (features excluded — checked
    in tests)."""
    media = mm.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    resized = mm.resize_batch(mm.decode_image_batch(media), max_side=32)
    return resized.select("doc_id", "width", "height", "n_channels")


@query(
    "multimodal_frames",
    oracle="""
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes
               FROM documents)
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(i * 1000 AS BIGINT) AS frame_ts_ms
    FROM (SELECT doc_id,
                 unnest(range(least(4, greatest(1, n_bytes * 10 // 1000))))
                     AS i
          FROM m)
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage: 1→N row expansion per media payload inside
    mapInPandas (video-style sampling every 1000 ms, ≤4 frames). The
    synthetic duration is a pure function of payload size, so row
    expansion is oracle-checked exactly."""
    media = mm.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    return mm.frame_sample_batch(media, fps_ms=1000, max_frames=4)
