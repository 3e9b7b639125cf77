"""Text-analysis operators for LLM training-data pipelines: token stats,
quality scoring, language-ID heuristic, document fingerprinting.

All pure column expressions (split / filter / aggregate / regexp) — the
whole stage is codegen'd, no Python, so it streams at parquet-scan speed
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from database_migrator_spark.functions.exact import (
    EXACT_DOUBLE_BOUND,
    exactness_guard,
    int_div,
)
from database_migrator_spark.operators.dedup import tokens_of
from database_migrator_spark.plans.registry import query
from database_migrator_spark.sources import spread_for_cpu, substrate, table

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# tiny per-language lexicons for the n-gram/stopword language-ID heuristic
_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "et", "les", "des", "une"),
}

_FP_MOD = 1_000_000_007
_FP_BASE = 31


def token_count(text: Column | str) -> Column:
    return F.size(tokens_of(text)).cast("long")


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = _STOPWORDS) -> Column:
    toks = tokens_of(text)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def lexicon_hits(text: Column | str, lexicon: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens_of(text), lambda t: t.isin(*lexicon))).cast("long")


def rolling_fingerprint(text: Column | str, prefix_len: int = 200) -> Column:
    """Deterministic polynomial rolling hash over the first ``prefix_len``
    characters: acc = (acc*31 + codepoint) mod 1e9+7. Engine-portable
    (mirrors ascii()/list_reduce in DuckDB) and stays within int64."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.filter(F.split(F.substring(c, 1, prefix_len), ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * _FP_BASE + F.ascii(ch), F.lit(_FP_MOD)),
    )


@query(
    "q30_token_stats",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END                        AS type_token_ratio,
           n_chars                                  AS n_chars
    FROM toks
    ORDER BY doc_id
    """,
    tags=("text", "tokens"),
)
def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + type/token ratio — the base signal of
    every quality filter."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_of("text")
    n = F.size(toks)
    nu = F.size(F.array_distinct(toks))
    return (
        d.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            nu.cast("long").alias("n_unique_tokens"),
            F.when(n > 0, nu.cast("double") / n.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("type_token_ratio"),
            F.col("n_chars").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


@query(
    "q31_quality_score",
    oracle=rf"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS toks,
               CAST(length(text) AS BIGINT) AS len_text,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, t -> list_contains({list(_STOPWORDS)!r}, t))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
           CASE WHEN len_text > 0
                THEN CAST(n_punct AS DOUBLE) / CAST(len_text AS DOUBLE) ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(toks) > 0
                THEN CAST(len_text AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS chars_per_token
    FROM base
    ORDER BY doc_id
    """,
    tags=("text", "quality"),
)
def q31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: stopword ratio, punctuation ratio,
    chars-per-token — the CCNet/Gopher-style cheap filters."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_of("text")
    n = F.size(toks)
    len_text = F.length("text").cast("long")
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("long")
    return (
        d.select(
            "doc_id",
            F.when(
                n > 0,
                F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
                / n.cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("stopword_ratio"),
            F.when(len_text > 0, n_punct.cast("double") / len_text.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("punct_ratio"),
            F.when(n > 0, len_text.cast("double") / n.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


@query(
    "q32_language_id",
    oracle=rf"""
    WITH scores AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                    t -> list_contains({list(_LEXICONS['en'])!r}, t))) AS BIGINT) AS s_en,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                    t -> list_contains({list(_LEXICONS['es'])!r}, t))) AS BIGINT) AS s_es,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                    t -> list_contains({list(_LEXICONS['de'])!r}, t))) AS BIGINT) AS s_de,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                    t -> list_contains({list(_LEXICONS['fr'])!r}, t))) AS BIGINT) AS s_fr
        FROM documents
    ), pred AS (
        SELECT doc_id, lang,
               CASE
                 WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
                 WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                 WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                 WHEN s_de >= s_fr THEN 'de'
                 ELSE 'fr'
               END AS predicted_lang
        FROM scores
    )
    SELECT lang, predicted_lang, COUNT(*) AS n
    FROM pred
    GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """,
    tags=("text", "langid"),
)
def q32_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language-ID heuristic with a deterministic argmax
    tie-break order (en > es > de > fr), summarized as a confusion table."""
    d = table(spark, sf_dir, "documents")
    s = {k: lexicon_hits("text", v) for k, v in _LEXICONS.items()}
    pred = (
        F.when(
            (s["en"] == 0) & (s["es"] == 0) & (s["de"] == 0) & (s["fr"] == 0), F.lit("unknown")
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return (
        d.select("lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted_lang")
    )


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Character n-gram set (distinct) of the lowercased text — the
    fuzzy-dedup unit used by the classic web-dedup pipelines."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    length = F.length(c)
    return F.array_distinct(
        F.when(
            length >= n,
            F.transform(F.sequence(F.lit(1), length - n + 1), lambda i: F.substring(c, i, n)),
        ).otherwise(F.array(c))
    )


@query(
    "q54_char_ngram_jaccard",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               list_distinct(
                 CASE WHEN length(text) >= 5
                      THEN list_transform(range(1, length(text) - 5 + 2),
                                          i -> lower(text[i:i+4]))
                      ELSE [lower(text)] END
               ) AS g
        FROM documents
        WHERE doc_id < 50
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    ORDER BY a_id, b_id
    """,
    tags=("text", "ngram", "jaccard", "E15"),
)
def q54_char_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard on a keyed subset. NB: DuckDB's
    ``text[i:i+4]`` slice is inclusive (5 chars) — mirrored by
    substring(c, i, 5) on the Spark side."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    g = d.select("doc_id", char_ngrams("text", 5).alias("g"))
    a = g.select(F.col("doc_id").alias("a_id"), F.col("g").alias("a_g"))
    b = g.select(F.col("doc_id").alias("b_id"), F.col("g").alias("b_g"))
    inter = F.size(F.array_intersect("a_g", "b_g")).cast("double")
    union = F.size(F.array_union("a_g", "b_g")).cast("double")
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", (inter / union).alias("jaccard"))
        .orderBy("a_id", "b_id")
    )


@query(
    "q55_regex_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)   AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                                                                           AS n_bpe_ish_tokens
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "tokens", "regex"),
)
def q55_regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: alphanumeric runs + isolated punctuation
    (the standard pre-tokenizer shape), counted with regexp_extract_all —
    ASCII classes only so Java and RE2-style engines agree."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z0-9]+"), 0))
            .cast("long")
            .alias("n_word_tokens"),
            F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0))
            .cast("long")
            .alias("n_punct_tokens"),
            F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))
            .cast("long")
            .alias("n_bpe_ish_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "q33_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split_regex(substr(text, 1, 200), ''),
                                          c -> c != ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, ch) -> (acc * {_FP_BASE} + ch) % {_FP_MOD}
           ) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "fingerprint"),
)
def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint of the document prefix —
    engine-portable exact int64 arithmetic (same fold in DuckDB)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint("text").alias("fingerprint")).orderBy(
        "doc_id"
    )


@query(
    "q87_token_window_chunks",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), ids AS (
        SELECT doc_id, t,
               unnest(generate_series(0, (len(t) - 1) // 32)) AS chunk_id
        FROM toks WHERE len(t) > 0
    ), c AS (
        SELECT doc_id, chunk_id,
               t[chunk_id * 32 + 1 : chunk_id * 32 + 32] AS ct
        FROM ids
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT)   AS chunk_id,
           CAST(len(ct) AS BIGINT)    AS n_chunk_tokens,
           md5(array_to_string(ct, ' ')) AS digest
    FROM c
    ORDER BY doc_id, chunk_id
    """,
    tags=("text", "chunking", "llm-pipeline"),
)
def q87_token_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window chunking — the step that turns documents
    into training sequences. Each doc explodes into ⌈n/32⌉ chunks of ≤32
    tokens; the chunk content is carried as an md5 digest so the output
    stays hash-matchable without shipping full text. Pure column
    expressions + one explode: streams at scan speed, no shuffle until
    the final presentation sort (which production pipelines omit)."""
    d = table(spark, sf_dir, "documents")
    return token_window_chunks(d, chunk_size=32).orderBy("doc_id", "chunk_id")


def token_window_chunks(
    docs: DataFrame,
    chunk_size: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into ⌈n/chunk_size⌉ token windows; returns
    (id, chunk_id, n_chunk_tokens, digest). Pure column expressions +
    one explode — streams at scan speed with zero shuffle."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_of(text_col).alias("t")
    ).where(F.size("t") > 0)
    ids = base.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.size("t") - 1) / F.lit(chunk_size)).cast("int")
            )
        ).alias("chunk_id"),
    )
    ct = F.slice(F.col("t"), F.col("chunk_id") * chunk_size + 1, F.lit(chunk_size))
    return ids.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(ct).cast("long").alias("n_chunk_tokens"),
        F.md5(F.encode(F.array_join(ct, " "), "UTF-8")).alias("digest"),
    )


@query(
    "q88_repetition_score",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), f AS (
        SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 3
    ), sh AS (
        SELECT doc_id, n,
               list_transform(generate_series(1, len(t) - 2),
                              i -> array_to_string(t[i:i+2], ' ')) AS s
        FROM f
    ), tok_rows AS (
        SELECT doc_id, unnest(t) AS tok FROM f
    ), counts AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok_rows GROUP BY doc_id, tok
    ), mx AS (
        SELECT doc_id, MAX(c) AS maxc FROM counts GROUP BY doc_id
    )
    SELECT sh.doc_id,
           CAST(sh.n AS BIGINT) AS n_toks,
           CAST(1 AS DOUBLE)
             - CAST(len(list_distinct(sh.s)) AS DOUBLE) / CAST(len(sh.s) AS DOUBLE)
             AS dup_trigram_frac,
           CAST(mx.maxc AS DOUBLE) / CAST(sh.n AS DOUBLE) AS top_token_frac
    FROM sh JOIN mx ON sh.doc_id = mx.doc_id
    ORDER BY sh.doc_id
    """,
    tags=("text", "quality", "repetition", "llm-pipeline"),
)
def q88_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: fraction of
    duplicate word-trigrams and the most-frequent-token share — the
    filters that catch boilerplate / keyword-stuffed pages. Trigram
    fraction is pure column expressions; the token mode needs a
    (doc, token) count, i.e. one explode + shuffle on the composite key,
    then a broadcast-size per-doc max joined back on doc_id."""
    from database_migrator_spark.operators.dedup import word_shingles

    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    base = d.select("doc_id", tokens_of("text").alias("t")).where(F.size("t") >= 3)
    sh = word_shingles(F.col("t"), 3)
    trig = base.select(
        "doc_id",
        F.size("t").cast("long").alias("n_toks"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(sh)).cast("double") / F.size(sh).cast("double")
        ).alias("dup_trigram_frac"),
    )
    counts = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    mx = counts.groupBy("doc_id").agg(F.max("c").alias("maxc"))
    return (
        trig.join(mx, "doc_id")
        .select(
            "doc_id",
            "n_toks",
            "dup_trigram_frac",
            (F.col("maxc").cast("double") / F.col("n_toks").cast("double")).alias(
                "top_token_frac"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "q91_top_terms_per_lang",
    oracle=r"""
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS term
        FROM documents
    ), c AS (
        SELECT lang, term, COUNT(*) AS n FROM toks GROUP BY lang, term
    )
    SELECT lang, rank, term, n FROM (
        SELECT lang, term, n,
               CAST(row_number() OVER (PARTITION BY lang
                                       ORDER BY n DESC, term) AS BIGINT) AS rank
        FROM c
    ) WHERE rank <= 5
    ORDER BY lang, rank
    """,
    tags=("text", "topk", "vocabulary"),
)
def q91_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 vocabulary terms (deterministic tie-break on the
    term) — the corpus-summary op behind vocabulary audits. One shuffle
    for the (lang, term) counts with map-side partial aggregation; the
    rank window partitions by lang only, but its input is already the
    aggregated vocabulary (≪ corpus), never raw tokens."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(tokens_of("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("lang", "rank", "term", "n")
        .orderBy("lang", "rank")
    )


@query(
    "q93_train_val_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "split", "sample", "llm-pipeline"),
)
def q93_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~80/10/10) keyed on
    md5(doc_id) — the split step of every training pipeline. Unlike
    rand()-based splits this reproduces across engines, retries, AQE
    re-plans, and incremental backfills (a new doc never moves an old
    doc's split), and needs zero shuffle: it is a projection the scan
    streams through. Same hex-threshold idiom as the q19/q57 samplers."""
    d = table(spark, sf_dir, "documents")
    return train_val_test_split(d).select("doc_id", "split").orderBy("doc_id")


def train_val_test_split(
    df: DataFrame,
    key_col: str = "doc_id",
    val_threshold: str = "cd",
    test_threshold: str = "e6",
) -> DataFrame:
    """Append a deterministic 'split' column keyed on md5(key): hex
    prefix < val_threshold → train, < test_threshold → val, else test
    (defaults ≈ 80/10/10). Reproducible across engines, retries, and
    backfills; zero shuffle."""
    bucket = F.substring(
        F.md5(F.encode(F.col(key_col).cast("string"), "UTF-8")), 1, 2
    )
    return df.withColumn(
        "split",
        F.when(bucket < val_threshold, F.lit("train"))
        .when(bucket < test_threshold, F.lit("val"))
        .otherwise(F.lit("test")),
    )


@query(
    "q94_sequence_packing",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, lang, source,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> len(t) > 0)) AS BIGINT) AS n_toks
        FROM documents
    )
    SELECT doc_id, lang, source, n_toks,
           start_offset,
           start_offset // 512 AS first_seq,
           greatest(start_offset // 512,
                    (start_offset + n_toks - 1) // 512) AS last_seq
    FROM (
        SELECT doc_id, lang, source, n_toks,
               CAST(COALESCE(SUM(n_toks) OVER (
                   PARTITION BY lang, source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS start_offset
        FROM base
    )
    ORDER BY doc_id
    """,
    tags=("text", "packing", "chunking", "llm-pipeline"),
)
def q94_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents stream into
    512-token training sequences per (lang, source) shard; each doc gets
    its token offset and the first/last sequence ids it lands in. The
    running offset is one window cumsum per shard — packing is shard-
    local at 100 TB by design (a global stream would serialize), so the
    partitionBy IS the scale story, not a toy shortcut."""
    d = table(spark, sf_dir, "documents")
    return sequence_packing(d, seq_len=512).orderBy("doc_id")


def sequence_packing(
    docs: DataFrame,
    seq_len: int = 512,
    shard_cols: tuple[str, ...] = ("lang", "source"),
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 256,
) -> DataFrame:
    """Concat-and-chunk packing: per-shard running token offsets plus the
    first/last ``seq_len``-token sequence each doc lands in.

    The prefix sum is TWO-LEVEL so no single task ever sorts a whole
    (lang, source) shard: docs bucket by ``floor(doc_id / bucket_width)``
    (monotone in the doc_id packing order, so bucket b's docs all precede
    bucket b+1's), the cumsum window partitions by (shard, bucket) and
    runs one task PER BUCKET in parallel, and the tiny per-bucket token
    totals — #shards × #buckets rows — get their own per-shard exclusive
    prefix sum and broadcast-join back as bucket base offsets.
    start_offset = bucket_base + within-bucket cumsum: identical to the
    single-window answer, but a terabyte shard now spreads over
    shard_bytes / (bucket_width · avg_doc_bytes) tasks instead of one.
    Requires a numeric ``id_col`` (bucketing must preserve the order)."""
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        *shard_cols,
        F.size(tokens_of(text_col)).cast("long").alias("n_toks"),
    ).withColumn("_bucket", F.floor(F.col("doc_id") / F.lit(bucket_width)))
    # Level 1: cumsum WITHIN each (shard, bucket) — parallel across buckets.
    w_local = (
        Window.partitionBy(*shard_cols, "_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_off = F.coalesce(F.sum("n_toks").over(w_local), F.lit(0).cast("long"))
    # Level 2: per-bucket totals → per-shard exclusive prefix over bucket
    # ids. This side is #shards × #buckets rows (bytes per terabyte of
    # input), so the single-task-per-shard window HERE is free, and the
    # result broadcasts.
    w_buckets = (
        Window.partitionBy(*shard_cols)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_base = (
        base.groupBy(*shard_cols, "_bucket")
        .agg(F.sum("n_toks").alias("_bucket_toks"))
        .withColumn(
            "_bucket_base",
            F.coalesce(F.sum("_bucket_toks").over(w_buckets), F.lit(0).cast("long")),
        )
        .select(*shard_cols, "_bucket", "_bucket_base")
    )
    joined = base.withColumn("_local_off", local_off).join(
        F.broadcast(bucket_base), [*shard_cols, "_bucket"]
    )
    return joined.withColumn(
        "start_offset", F.col("_bucket_base") + F.col("_local_off")
    ).select(
        "doc_id",
        *shard_cols,
        "n_toks",
        "start_offset",
        F.floor(F.col("start_offset") / F.lit(seq_len)).alias("first_seq"),
        # clamp to first_seq so a zero-token doc collapses to its own
        # sequence instead of diverging between floor (Spark) and the
        # toward-zero // (DuckDB) on the off-1 boundary
        F.greatest(
            F.floor(F.col("start_offset") / F.lit(seq_len)),
            F.floor((F.col("start_offset") + F.col("n_toks") - 1) / F.lit(seq_len)),
        ).alias("last_seq"),
    )


@query(
    "q96_cooccurrence_pmi",
    oracle=r"""
    WITH dt AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                                t -> len(t) > 0))) AS tok
        FROM documents
    ), cnt AS (
        SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok
    ), vocab AS (
        SELECT tok, c FROM cnt WHERE c >= 2
    ), dtp AS (
        SELECT dt.doc_id, dt.tok FROM dt JOIN vocab USING (tok)
    ), pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_ab
        FROM dtp a JOIN dtp b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT tok_a, tok_b, c_ab,
           ln(CAST(c_ab AS DOUBLE) * n.n_docs / (ca.c * cb.c)) AS pmi
    FROM pairs
    JOIN vocab ca ON pairs.tok_a = ca.tok
    JOIN vocab cb ON pairs.tok_b = cb.tok
    CROSS JOIN n
    ORDER BY c_ab DESC, tok_a, tok_b
    LIMIT 20
    """,
    tags=("text", "cooccurrence", "pmi"),
    checkpointed_substrate=True,
)
def q96_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 document-level token co-occurrence pairs with pointwise
    mutual information — the word2vec/GloVe-style corpus statistic.
    Vocabulary pruning is REAL, not advisory: both sides of the per-doc
    self-join are first semi-joined (broadcast) against the min-count
    vocabulary, so candidate pairs are bounded by Σ V'_doc² where V' is
    the PRUNED per-doc vocab — a pair with c_ab ≥ min_count needs both
    tokens at doc-freq ≥ min_count, so no pair that could reach the
    top-20 (given ≥20 pairs above the cutoff) is lost, and web-scale
    10³-10⁴-distinct-token documents stop being quadratic in their long
    tail of hapaxes. The same cutoff is mirrored in the DuckDB oracle.
    Doc-frequency counts join back by broadcast (vocabulary ≪ corpus)
    and top-20 is a TakeOrderedAndProject. PMI inputs are exact
    integers, making the single ln() call hash-stable at the 6-decimal
    compare."""
    return cooccurrence_pmi(table(spark, sf_dir, "documents"), top_k=20, min_count=2)


def cooccurrence_pmi(
    docs: DataFrame,
    top_k: int = 20,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level co-occurrence PMI over the min-count-pruned
    vocabulary. ``min_count`` is the scale knob: tokens in fewer than
    ``min_count`` documents are dropped from BOTH sides of the pair
    self-join (their pairs can never reach c_ab ≥ min_count), which caps
    the per-doc pair fan-out at the pruned vocabulary size squared."""
    d = docs
    dt = d.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens_of(text_col))).alias("tok"),
    )
    # vocab-sized; read by the prune AND both PMI margins — checkpoint
    # so each reference does not re-tokenize the corpus
    cnt = dt.groupBy("tok").agg(F.count("*").alias("c")).localCheckpoint(eager=True)
    vocab = cnt.where(F.col("c") >= F.lit(min_count))
    # Broadcast vocabulary pruning BEFORE the self-join: the pair space
    # is quadratic per doc, so every hapax dropped here is a row that
    # never fans out.
    # dtp feeds BOTH self-join sides and cnt feeds vocab + both PMI
    # margins — without materialization each reference re-tokenizes the
    # corpus (measured 7 scans). The pruned (doc_id, tok) stream is the
    # smallest corpus-sized representation (ints + short strings, far
    # smaller than the text it came from) — storing it once beats
    # re-deriving it twice, the same trade the MinHash sketch substrate
    # makes.
    dtp = (
        dt.join(F.broadcast(vocab.select("tok")), "tok")
        .select("doc_id", "tok")
        .localCheckpoint(eager=True)
    )
    a = dtp.select("doc_id", F.col("tok").alias("tok_a"))
    b = dtp.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("c_ab"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    ca = vocab.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cb = vocab.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.log(
                F.col("c_ab").cast("double")
                * F.col("n_docs")
                / (F.col("c_a") * F.col("c_b"))
            ).alias("pmi"),
        )
        .orderBy(F.col("c_ab").desc(), "tok_a", "tok_b")
        .limit(top_k)
    )


# The distinct-8-gram shingle table (doc_id, s array<string>) is the shared
# substrate of decontamination (q98) and contamination attribution (q145);
# a production pipeline persists it at ingest next to the MinHash sketch
# (``dedup.documents_sketch``) and refreshes it with the recrawl cadence.
@substrate("gram", "documents")
def doc_shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database_migrator_spark.operators.dedup import word_shingles

    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.array_distinct(word_shingles(tokens_of("text"), 8)).alias("s"),
    ).localCheckpoint(eager=True)


def benchmark_decontamination(
    train_docs: DataFrame,
    bench_docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents sharing any k-token shingle with the
    benchmark set; returns (doc_id, n_shared_{k}grams). The benchmark
    shingle set broadcasts; the training side streams through one
    explode + probe + aggregation — no corpus-side pairwise work."""
    from database_migrator_spark.operators.dedup import word_shingles

    def shingled(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(word_shingles(tokens_of(text_col), k)).alias("s"),
        )

    bench = shingled(bench_docs).select(F.explode("s").alias("g")).distinct()
    train = shingled(train_docs).select("doc_id", F.explode("s").alias("g"))
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias(f"n_shared_{k}grams"))
    )


@query(
    "q98_benchmark_decontamination",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 8
                    THEN list_transform(generate_series(1, len(t) - 7),
                                        i -> array_to_string(t[i:i+7], ' '))
                    ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), bench AS (
        SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0
    ), train AS (
        SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_shared_8grams
    FROM train t JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("text", "decontamination", "ngram", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q98_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination — the n-gram collision scan every serious
    training pipeline runs before training: flag training documents
    sharing any 8-token shingle with the held-out benchmark set (here the
    deterministic doc_id%97 slice), reporting how many distinct 8-grams
    collide. The benchmark shingle set is tiny relative to the corpus and
    joins by BROADCAST, so the training side streams through one
    explode + broadcast-probe + (doc_id) aggregation — no corpus-side
    pairwise work, which is what makes the scan affordable at 100 TB.
    Reads the shared shingle table (``doc_shingles_cached`` — built once
    per session, also consumed by q145's attribution drill-down)."""
    sh = doc_shingles_cached(spark, sf_dir)
    bench = (
        sh.where(F.col("doc_id") % 97 == 0).select(F.explode("s").alias("g")).distinct()
    )
    train = sh.where(F.col("doc_id") % 97 != 0).select("doc_id", F.explode("s").alias("g"))
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_8grams"))
        .orderBy("doc_id")
    )


@query(
    "q99_quality_filter_yield",
    oracle=r"""
    WITH sig AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(t) AS n_toks,
               CASE WHEN len(t) >= 3 THEN
                 CAST(1 AS DOUBLE)
                   - CAST(len(list_distinct(list_transform(
                         generate_series(1, len(t) - 2),
                         i -> array_to_string(t[i:i+2], ' ')))) AS DOUBLE)
                     / CAST(len(t) - 2 AS DOUBLE)
               ELSE CAST(1 AS DOUBLE) END AS dup3
        FROM sig
    )
    SELECT stage, n_docs FROM (
        SELECT '0_total' AS stage, COUNT(*) AS n_docs FROM m
        UNION ALL
        SELECT '1_min_length', COUNT(*) FROM m WHERE n_toks >= 60
        UNION ALL
        SELECT '2_max_length', COUNT(*) FROM m WHERE n_toks >= 60 AND n_toks <= 500
        UNION ALL
        SELECT '3_repetition', COUNT(*) FROM m
         WHERE n_toks >= 60 AND n_toks <= 500 AND dup3 <= 0.6
    )
    ORDER BY stage
    """,
    tags=("text", "quality", "yield", "llm-pipeline"),
)
def q99_quality_filter_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline yield report: how many documents survive each quality
    filter stage (min length → max length → trigram-repetition cap),
    applied cumulatively — the funnel number a data team watches when
    tuning thresholds. Conditional aggregates over ONE scan (no
    re-reads per stage); the signals are the q30/q88 expressions."""
    from database_migrator_spark.operators.dedup import word_shingles

    # spread the single-file scan before the CPU-bound shingle lambdas
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    toks = tokens_of("text")
    n = F.size(toks)
    sh = word_shingles(toks, 3)
    dup3 = F.when(
        n >= 3,
        F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / (n - 2).cast("double"),
    ).otherwise(F.lit(1.0))
    m = d.select(n.alias("n_toks"), dup3.alias("dup3"))
    p1 = F.col("n_toks") >= 60
    p2 = p1 & (F.col("n_toks") <= 500)
    p3 = p2 & (F.col("dup3") <= 0.6)
    agg = m.agg(
        F.count("*").alias("0_total"),
        F.sum(p1.cast("long")).alias("1_min_length"),
        F.sum(p2.cast("long")).alias("2_max_length"),
        F.sum(p3.cast("long")).alias("3_repetition"),
    )
    stage = F.explode(
        F.array(
            *[
                F.struct(F.lit(s).alias("stage"), F.col(f"`{s}`").alias("n_docs"))
                for s in ("0_total", "1_min_length", "2_max_length", "3_repetition")
            ]
        )
    ).alias("kv")
    return agg.select(stage).select("kv.stage", "kv.n_docs").orderBy("stage")


@query(
    "q100_heavy_hitters",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS term
        FROM documents
    )
    SELECT term, n FROM (
        SELECT term, COUNT(*) AS n FROM toks GROUP BY term
    )
    ORDER BY n DESC, term
    LIMIT 10
    """,
    tags=("sketch", "topk", "heavy-hitters"),
)
def q100_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 corpus terms via the approx_top_k mergeable sketch — the
    heavy-hitters pattern: per-partition sketches combine in one
    single-row aggregate (each a bounded few KB regardless of input),
    so the token stream never shuffles. Run in the sketch's LOSSLESS
    regime (maxItemsTracked=10000 ≫ corpus vocabulary), where every
    tracked count is exact — which is why this sketch query can be
    hash-matched against the exact GROUP BY oracle; web-scale vocabs
    overflow the tracker and degrade gracefully to approximate counts.
    The final deterministic (count desc, term) sort happens outside the
    sketch, since approx_top_k's internal tie order is unspecified."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(tokens_of("text")).alias("term"))
    return heavy_hitters(toks, "term", k=10)


def heavy_hitters(
    df: DataFrame, col: str, k: int = 10, max_tracked: int = 10000
) -> DataFrame:
    """Top-k values of ``col`` via the approx_top_k mergeable sketch,
    deterministically re-sorted (count desc, value) outside the sketch.
    Counts are exact while the column's cardinality stays below
    ``max_tracked``; beyond that they degrade gracefully to estimates."""
    sk = df.agg(F.expr(f"approx_top_k({col}, {max(k, 1000)}, {max_tracked})").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("kv"))
        .select(F.col("kv.item").alias(col), F.col("kv.count").alias("n"))
        .orderBy(F.col("n").desc(), col)
        .limit(k)
    )


@query(
    "q75_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT doc_id, term, tf, tfidf FROM (
        SELECT t.doc_id, t.term, t.tf,
               t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS tfidf
        FROM tf t JOIN df d USING (term), n
    )
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
    tags=("text", "tfidf", "ranking"),
)
def q75_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the scoring step of keyword
    extraction / quality filtering. Shape at scale: one shuffle for the
    (doc, term) term frequencies; the document-frequency table and the
    single-row corpus count are derived aggregates joined back by
    BROADCAST (term vocabulary ≪ corpus), so the big side never shuffles
    again; top-3 is a bounded row_number window per doc. tf/df/N are
    exact ints in both engines, making tf·ln(N/df) hash-stable."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_of("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@query(
    "q103_source_divergence",
    oracle=r"""
    WITH dt AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), cnt_s AS (
        SELECT source, tok, COUNT(*) AS c_s FROM dt GROUP BY source, tok
    ), ns AS (
        SELECT source, COUNT(*) AS n_s FROM dt GROUP BY source
    ), cnt_g AS (
        SELECT tok, COUNT(*) AS c_g FROM dt GROUP BY tok
    ), ng AS (
        SELECT COUNT(*) AS n_g FROM dt
    ), terms AS (
        SELECT cnt_s.source,
               (CAST(c_s AS DOUBLE) / n_s)
                 * ln(CAST(c_s * n_g AS DOUBLE) / CAST(n_s * c_g AS DOUBLE)) AS term,
               n_s
        FROM cnt_s
        JOIN ns USING (source)
        JOIN cnt_g USING (tok)
        CROSS JOIN ng
    )
    SELECT source,
           MIN(n_s) AS n_tokens,
           CAST(SUM(CAST(round(term * 1000000000000) AS BIGINT)) AS DOUBLE)
             / CAST(1000000000000 AS DOUBLE) AS kl_divergence
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "mixing", "divergence", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q103_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the token distribution from the
    corpus-wide distribution — the data-mixing diagnostic that tells a
    curation team which sources are outliers before setting sampling
    weights. Shape at scale: one (source, tok) shuffle for the source
    counts; the per-source totals and single-row corpus total join back
    by BROADCAST, but the global vocabulary counts (``cnt_g``) join by
    SHUFFLE_MERGE (pinned by hint) — on web-scale text the
    distinct-token table is hapax-heavy and grows into the billions of
    rows, so a broadcast of it OOMs the executors (Catalyst's static
    stats under-estimate the aggregate and would still pick broadcast
    at small scale, hence the explicit hint).  KL needs every token (a
    min-count prune would change the answer), so the join cannot be
    shrunk — only shuffled, on the same ``tok`` key the vocabulary
    aggregation already hash-partitioned, making the extra exchange
    one-sided.  Hash-stable
    across engines because every ln() input is a ratio of exact BIGINT
    products (c_s·N_g)/(N_s·c_g) and the per-source sum uses the
    integer-fixed-point pattern (round(term·1e12) summed as BIGINT —
    summation-order-independent).  The c·N < 2^53 exactness bound is
    GUARDED: a JVM-side assert_true fails the job loudly past the
    bound instead of silently losing ulps (the escape hatch there is
    the log-sum restatement ln(c_s)+ln(N_g)-ln(N_s)-ln(c_g))."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    dt = d.select("source", F.explode(tokens_of("text")).alias("tok"))
    # every margin is an AGGREGATE of the (source, tok) counts — derive
    # them from one checkpointed cnt_s instead of re-tokenizing the
    # corpus per margin (measured 4 scans; round-7 rescan audit)
    cnt_s = (
        dt.groupBy("source", "tok")
        .agg(F.count("*").alias("c_s"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    ns = cnt_s.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    # token margin rides a vocab-partitioned window over cnt_s's one
    # exchange (r14 wave 5 — formerly a groupBy(tok) + shuffle-merge
    # join back, i.e. two more vocab-scale exchanges + a second
    # checkpoint read); per-token groups are source-count-sized
    c_g = F.sum("c_s").over(Window.partitionBy("tok"))
    ng = cnt_s.agg(F.sum("c_s").alias("n_g"))
    term = (F.col("c_s").cast("double") / F.col("n_s")) * F.log(
        (F.col("c_s") * F.col("n_g")).cast("double")
        / (F.col("n_s") * F.col("c_g")).cast("double")
    )
    exact_bound = F.lit(EXACT_DOUBLE_BOUND)
    in_bound = (
        F.col("c_s").cast("double") * F.col("n_g").cast("double") < exact_bound
    ) & (F.col("n_s").cast("double") * F.col("c_g").cast("double") < exact_bound)
    return (
        cnt_s.withColumn("c_g", c_g)
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ng))
        .where(
            exactness_guard(
                in_bound,
                "q103: BIGINT ratio product >= 2^53 — fixed-point KL would "
                "silently lose precision; restate with the log-sum form",
            )
        )
        .withColumn("term", term)
        .groupBy("source")
        .agg(
            F.min("n_s").alias("n_tokens"),
            (
                F.sum(
                    F.round(F.col("term") * F.lit(1000000000000.0)).cast("long")
                ).cast("double")
                / F.lit(1000000000000.0)
            ).alias("kl_divergence"),
        )
        .orderBy("source")
    )


@query(
    "q104_sampling_weights",
    oracle=r"""
    WITH g AS (
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                             t -> len(t) > 0)) AS BIGINT))
                    AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY lang, source
    ), w AS (
        SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                    AS wq
        FROM g
    ), t AS (
        SELECT CAST(SUM(wq) AS BIGINT) AS total_wq FROM w
    )
    SELECT lang, source, n_docs, n_tokens,
           CAST(wq AS DOUBLE) / total_wq AS weight
    FROM w CROSS JOIN t
    ORDER BY lang, source
    """,
    tags=("text", "mixing", "sampling", "llm-pipeline"),
)
def q104_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing weights per (lang, source) shard:
    weight_i = sqrt(tokens_i) / Σ sqrt(tokens_j) — the alpha = 0.5
    resampling every multilingual / multi-source training run sets
    (upweights small shards, tempers dominant ones). One aggregation for
    the shard token totals; the normalizer is a broadcast single row.
    sqrt is IEEE-correctly-rounded (identical across engines — the
    reason alpha is 0.5 and not a libm pow), and the normalizer sums
    fixed-point BIGINTs, so the weights hash-match exactly.  The
    normalizer's BIGINT→DOUBLE division is exact only while
    total_wq < 2^53; a JVM-side assert_true fails loudly past that
    bound (reaching it needs Σ√tokens > 9e9, i.e. ~10^19 corpus
    tokens at one shard — far past 100 TB, but guarded, not assumed)."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    g = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens_of("text")).cast("long")).alias("n_tokens"),
    )
    w = g.withColumn(
        "wq",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1000000.0)).cast(
            "long"
        ),
    )
    t = w.agg(F.sum("wq").alias("total_wq"))
    return (
        w.crossJoin(F.broadcast(t))
        .where(
            exactness_guard(
                F.col("total_wq").cast("double") < F.lit(EXACT_DOUBLE_BOUND),
                "q104: Σ√tokens normalizer >= 2^53 — BIGINT→DOUBLE division "
                "would silently round; rescale the 1e6 fixed-point factor",
            )
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            (F.col("wq").cast("double") / F.col("total_wq")).alias("weight"),
        )
        .orderBy("lang", "source")
    )


def doc_bigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2) bigram instances via one positional zip of the
    token array with its own tail — a single interpreted lambda per row
    (never per pair), then a JVM-side explode."""
    toks = tokens_of(text_col)
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        docs.where(F.size(tokens_of(text_col)) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )


@query(
    "q108_bigram_lm_score",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS ts
        FROM documents
    ), bg AS (
        SELECT doc_id, pair[1] AS w1, pair[2] AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ts)),
                                         i -> [ts[i], ts[i+1]])) AS pair
            FROM toks WHERE len(ts) >= 2
        )
    ), c2 AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
    ), probs AS (
        SELECT w1, w2, ln(CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE)) AS nll
        FROM c2 JOIN c1 USING (w1)
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(round(nll * 1000000000000) AS BIGINT)) AS DOUBLE)
             / CAST(1000000000000 AS DOUBLE) / COUNT(*) AS avg_nll
    FROM bg JOIN probs USING (w1, w2)
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
    tags=("text", "lm", "quality", "llm-pipeline"),
)
def q108_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram language-model surprisal (average negative
    log-likelihood in nats under the corpus-trained MLE bigram model) —
    the model-based quality signal curation pipelines rank documents
    with (high self-surprisal ⇒ unusual/noisy text; near-zero ⇒
    boilerplate the model memorizes). Scoring the training corpus with
    itself means every bigram is in-vocabulary, so no smoothing is
    needed and c1 ≥ c2 ≥ 1 keeps every nll term ≥ 0 and finite.

    Shape at scale: one (doc, w1, w2) explode; bigram counts and their
    w1 marginals are (bigram-)vocabulary-sized aggregates that join each
    other on w1 and rejoin the instance stream on (w1, w2) — BOTH joins
    pinned shuffle (the bigram vocabulary is far larger than the
    unigram one that already OOMs a forced broadcast, q103's lesson).
    Hash-stable: nll = ln(c1/c2) of exact BIGINTs below the guarded
    2^53 bound, summed per doc in 1e-12 fixed point (order-free), and
    the final avg divides bit-identical doubles on both engines."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    bg = doc_bigrams(d)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    probs = (
        c2.join(c1.hint("shuffle_merge"), "w1")
        .where(
            exactness_guard(
                F.col("c1").cast("double") < F.lit(EXACT_DOUBLE_BOUND),
                "q108: unigram marginal >= 2^53 — ln(c1/c2) would silently "
                "round; rescale counts or restate with log-sum",
            )
        )
        .select(
            "w1",
            "w2",
            F.log(F.col("c1").cast("double") / F.col("c2").cast("double")).alias(
                "nll"
            ),
        )
    )
    return (
        bg.join(probs.hint("shuffle_merge"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum(
                    F.round(F.col("nll") * F.lit(1000000000000.0)).cast("long")
                ).cast("double")
                / F.lit(1000000000000.0)
                / F.count("*")
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


@query(
    "q111_seq_length_histogram",
    oracle=r"""
    WITH n AS (
        SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> len(t) > 0)) AS BIGINT) AS nt
        FROM documents
    ), b AS (
        SELECT CASE
                 WHEN nt < 32 THEN 0 WHEN nt < 64 THEN 32
                 WHEN nt < 128 THEN 64 WHEN nt < 256 THEN 128
                 WHEN nt < 512 THEN 256 WHEN nt < 1024 THEN 512
                 ELSE 1024 END AS bucket_lo,
               nt
        FROM n
    ), t AS (SELECT COUNT(*) AS total FROM n)
    SELECT bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM t) AS frac_docs
    FROM b
    GROUP BY bucket_lo
    ORDER BY bucket_lo
    """,
    tags=("text", "packing", "diagnostics", "llm-pipeline"),
)
def q111_seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution of the corpus in power-of-two buckets —
    the diagnostic that sizes sequence-packing (q94) and chunking (q87):
    how much of the corpus fits a 512-token context, how much must be
    chunked, how much padding a naive batcher would waste. One scan, one
    tiny aggregation; the doc-count normalizer broadcasts as a single
    row. Fractions divide exact BIGINTs, so they are bit-identical
    across engines."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    nt = token_count("text")
    bucket = (
        F.when(nt < 32, 0)
        .when(nt < 64, 32)
        .when(nt < 128, 64)
        .when(nt < 256, 128)
        .when(nt < 512, 256)
        .when(nt < 1024, 512)
        .otherwise(1024)
        .cast("long")
    )
    b = d.select(bucket.alias("bucket_lo"), nt.alias("nt"))
    t = b.agg(F.count("*").alias("total"))
    return (
        b.groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("total_tokens"))
        .crossJoin(F.broadcast(t))
        .select(
            "bucket_lo",
            "n_docs",
            "total_tokens",
            (F.col("n_docs").cast("double") / F.col("total").cast("double")).alias(
                "frac_docs"
            ),
        )
        .orderBy("bucket_lo")
    )


@query(
    "q113_repeated_ngram_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
        FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
        WHERE len(t) >= 8
    ), rep AS (
        SELECT g, COUNT(*) AS c FROM grams GROUP BY g HAVING COUNT(*) > 1
    )
    SELECT grams.doc_id,
           COUNT(*) AS n_grams,
           COUNT(rep.g) AS n_repeated,
           CAST(COUNT(rep.g) AS DOUBLE) / COUNT(*) AS repeated_frac
    FROM grams LEFT JOIN rep ON grams.g = rep.g
    GROUP BY grams.doc_id
    ORDER BY grams.doc_id
    """,
    tags=("text", "dedup", "exact-substring", "llm-pipeline"),
)
def q113_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication tier (the ExactSubstr counterpart of
    the MinHash near-dup family): for every document with ≥ 8 tokens,
    the fraction of its 8-token windows that occur ANYWHERE else in the
    corpus (other documents or elsewhere in the same one) — the signal
    used to cut verbatim-boilerplate spans before training, at a finer
    grain than whole-document dedup.

    Shape at scale: one posexplode to (doc, pos, gram), then the
    corpus-occurrence count attaches via count(*) OVER (PARTITION BY
    gram) — ONE gram-keyed exchange feeding a window whose per-gram
    groups are df-sized (max df single digits on this corpus), instead
    of the former gram-keyed aggregate + shuffle-merge join BACK that
    re-derived the tokenize+explode on both join sides and crossed two
    exchanges (the q162-substrate lesson, r14 wave 3/4). Production
    would hash the gram string to 128 bits before the shuffle; the
    string key keeps this oracle-exact cross-engine. Fractions divide
    exact BIGINTs, so they hash bit-identically."""
    from database_migrator_spark.operators.dedup import word_shingles
    from pyspark.sql import Window

    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    toks = tokens_of("text")
    g = d.where(F.size(toks) >= 8).select(
        "doc_id", F.posexplode(word_shingles(toks, 8)).alias("pos", "g")
    )
    rep = (F.count("*").over(Window.partitionBy("g")) > 1).cast("long")
    return (
        g.withColumn("__rep", rep)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("__rep").alias("n_repeated"),
            (F.sum("__rep").cast("double") / F.count("*")).alias("repeated_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "q294_exact_substring_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, i AS pos,
               list_aggregate(t[i:i+7], 'string_agg', ' ') AS g
        FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
        WHERE len(t) >= 8
    ), rep AS (
        SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1
    ), hits AS (
        SELECT grams.doc_id, grams.pos FROM grams JOIN rep USING (g)
    ), isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM hits
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl
    GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
    tags=("text", "dedup", "exact-substring", "spans", "llm-pipeline"),
)
def q294_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL shared-span boundaries — the span-level ExactSubstr step
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better") that completes the exact-substring ladder above q113's
    per-doc fractions: q113 says HOW MUCH of a doc is duplicated
    boilerplate; this says exactly WHERE to cut. Every maximal run of
    consecutive token positions whose 8-token window occurs anywhere
    else in the corpus is emitted as one span [span_start, span_end]
    (1-based token indices, inclusive) — a run of repeated windows at
    positions p..q covers tokens p..q+7, so span_tokens = q+8-p.

    Shape at scale: the same one-exchange window-df attach as q113 (the
    corpus-occurrence count rides count(*) OVER (PARTITION BY gram) —
    the repeated-gram set is corpus-sized, so the former join-back had
    to shuffle-merge and re-derived the explode on both sides; the
    window halves that), then gaps-and-islands per document: the per-doc window
    (partitionBy doc_id, orderBy pos) sorts only one document's hit
    positions per partition — bounded by doc length, never corpus-wide
    — and the (doc_id, island) aggregate rides the SAME doc_id
    partitioning, so the islands step adds exactly one shuffle. All
    outputs are exact BIGINTs; (doc_id, span_start) is a key, giving
    the total order the hash gate needs."""
    from database_migrator_spark.operators.dedup import word_shingles
    from pyspark.sql import Window

    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    toks = tokens_of("text")
    g = d.where(F.size(toks) >= 8).select(
        "doc_id", F.posexplode(word_shingles(toks, 8)).alias("pos0", "g")
    )
    hits = (
        g.withColumn("__c", F.count("*").over(Window.partitionBy("g")))
        .where(F.col("__c") > 1)
        .select("doc_id", (F.col("pos0") + 1).alias("pos"))  # 1-based, mirrors oracle
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("island")
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + 7).cast("long").alias("span_end"),
            (F.max("pos") + 8 - F.min("pos")).cast("long").alias("span_tokens"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens", "n_windows")
        .orderBy("doc_id", "span_start")
    )


@query(
    "q114_per_source_caps",
    oracle=r"""
    WITH scored AS (
        SELECT source, doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> len(t) > 0)) AS BIGINT) AS n_tokens,
               row_number() OVER (PARTITION BY source
                                  ORDER BY len(list_filter(
                                        string_split_regex(lower(text), '\s+'),
                                        t -> len(t) > 0)) DESC, doc_id) AS rn
        FROM documents
    )
    SELECT source, doc_id, n_tokens
    FROM scored
    WHERE rn <= 10
    ORDER BY source, n_tokens DESC, doc_id
    """,
    tags=("text", "curation", "caps", "llm-pipeline"),
)
def q114_per_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps — the anti-domination step of corpus
    curation (no single domain/source may contribute more than K
    documents; here K=10, keeping the token-richest with doc_id as the
    deterministic tiebreak). One shuffle on source + a per-key window
    row_number ≤ K.

    Scale note: a window sorts each source's full partition; a source
    skewed to billions of rows would instead use the two-phase top-K
    (per-partition partial top-K, then merge — q07's pattern) or the
    salted variants in operators/skew.py. The declared query keeps the
    canonical windowed form, whose plan Catalyst rewrites into a
    rank-limited sort at the partition level."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    nt = token_count("text")
    w = Window.partitionBy("source").orderBy(F.col("n_tokens").desc(), "doc_id")
    return (
        d.select("source", "doc_id", nt.alias("n_tokens"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("source", "doc_id", "n_tokens")
        .orderBy("source", F.col("n_tokens").desc(), "doc_id")
    )


@query(
    "q145_contamination_attribution",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 8
                    THEN list_transform(generate_series(1, len(t) - 7),
                                        i -> array_to_string(t[i:i+7], ' '))
                    ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), bench AS (
        SELECT doc_id AS bench_doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 = 0
    ), train AS (
        SELECT doc_id AS train_doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT b.bench_doc_id,
           COUNT(DISTINCT t.train_doc_id) AS n_train_docs_hit,
           COUNT(DISTINCT t.g)            AS n_grams_hit
    FROM bench b JOIN train t ON b.g = t.g
    GROUP BY b.bench_doc_id
    ORDER BY b.bench_doc_id
    """,
    tags=("text", "decontamination", "attribution", "ngram", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q145_contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drill-down report a decontamination pass (q98) triggers: for
    each BENCHMARK document, how many training documents it collides
    with and through how many distinct 8-grams — the ranking an eval
    owner reads to decide whether a benchmark is burnt (many training
    hits) or just grazed by boilerplate (few grams, many docs). Same
    scale shape as q98 — the bounded benchmark shingle set broadcasts,
    the corpus side is one explode + probe + aggregation keyed by the
    benchmark doc — so attribution costs no more than detection, and
    both read the same once-per-session shingle table
    (``doc_shingles_cached``)."""
    sh = doc_shingles_cached(spark, sf_dir)
    bench = (
        sh.where(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("bench_doc_id"), F.explode("s").alias("g"))
    )
    train = (
        sh.where(F.col("doc_id") % 97 != 0)
        .select(F.col("doc_id").alias("train_doc_id"), F.explode("s").alias("g"))
    )
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("bench_doc_id")
        .agg(
            F.countDistinct("train_doc_id").alias("n_train_docs_hit"),
            F.countDistinct("g").alias("n_grams_hit"),
        )
        .orderBy("bench_doc_id")
    )


@query(
    "q187_source_entropy",
    oracle=r"""
    WITH dt AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), cnt_s AS (
        SELECT source, tok, COUNT(*) AS c_s FROM dt GROUP BY source, tok
    ), ns AS (
        SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM cnt_s GROUP BY source
    ), terms AS (
        SELECT cnt_s.source,
               (CAST(c_s AS DOUBLE) / n_s)
                 * ln(CAST(n_s AS DOUBLE) / CAST(c_s AS DOUBLE)) AS term
        FROM cnt_s JOIN ns USING (source)
    ), ent AS (
        SELECT source,
               CAST(SUM(CAST(round(term * 1000000000000) AS BIGINT)) AS DOUBLE)
                 / 1000000000000.0 AS entropy_nats
        FROM terms GROUP BY source
    )
    SELECT ns.source, ns.n_s AS n_tokens, ns.vocab,
           ent.entropy_nats,
           CAST(ROUND(exp(ent.entropy_nats) * 1000000000) AS BIGINT)
               / 1000000000.0 AS perplexity
    FROM ns JOIN ent USING (source)
    ORDER BY ns.source
    """,
    tags=("text", "entropy", "perplexity", "divergence", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q187_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy and perplexity — the
    diversity/quality read next to q103's KL outlier score: a source
    whose unigram perplexity collapses is templated boilerplate; one
    whose entropy rivals the corpus ceiling ln(vocab) is diverse (or
    noise — q31's quality score disambiguates). H = Σ (c/n)·ln(n/c)
    with every ln input an exact integer ratio under the 2^53 guard and
    the per-source sum in 1e-12 fixed point (q103's recipe — summation-
    order-independent, so the hash survives AQE re-grouping);
    perplexity = exp(H) of an identical double, 1e-9-rounded. One
    (source, tok) shuffle; the per-source margins broadcast back."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    dt = d.select("source", F.explode(tokens_of("text")).alias("tok"))
    cnt_s = dt.groupBy("source", "tok").agg(F.count("*").alias("c_s"))
    cnt_s = cnt_s.localCheckpoint(eager=True)  # margins derive from it
    ns = cnt_s.groupBy("source").agg(
        F.sum("c_s").alias("n_s"), F.count("*").alias("vocab")
    )
    term = (F.col("c_s").cast("double") / F.col("n_s")) * F.log(
        F.col("n_s").cast("double") / F.col("c_s").cast("double")
    )
    in_bound = F.col("n_s").cast("double") < F.lit(EXACT_DOUBLE_BOUND)
    ent = (
        cnt_s.join(F.broadcast(ns), "source")
        .where(
            exactness_guard(
                in_bound,
                "q187: n_s >= 2^53 — fixed-point entropy would lose precision",
            )
        )
        .withColumn("term", term)
        .groupBy("source")
        .agg(
            (
                F.sum(F.round(F.col("term") * F.lit(1e12)).cast("long")).cast("double")
                / F.lit(1e12)
            ).alias("entropy_nats")
        )
    )
    return (
        ns.join(F.broadcast(ent), "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "vocab",
            "entropy_nats",
            (F.round(F.exp("entropy_nats") * F.lit(1e9)).cast("long") / F.lit(1e9)).alias(
                "perplexity"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Lexical-retrieval substrate shared by q191 (BM25), q196 (QLD) and q197
# (RRF fusion): the (doc_id, term, tf) table is the ONE corpus-sized
# artifact of the family.  Like dense_hourly_counts, it is a session
# substrate (``sources.substrate``) materialized as a localCheckpoint so
# however many scorers run, the documents parquet is scanned exactly once.
# ---------------------------------------------------------------------------
@substrate("tf", "documents")
def doc_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", F.explode(tokens_of("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # corpus touched once, here
    )


#: the oracle-side mirror of the substrate + derived tables + the
#: deterministic 3-term query (highest-df terms of length >= 6).
_LEX_BASE_ORACLE = r"""toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total
        FROM dl
    ), dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), qt AS (
        SELECT term, df FROM dfq WHERE len(term) >= 6
        ORDER BY df DESC, term LIMIT 3
    )"""


def _lex_query_terms(spark: SparkSession, sf_dir: str):
    """(tf, dl, stats, qt) DataFrames — the Spark mirror of
    _LEX_BASE_ORACLE, all derived from the cached tf substrate."""
    tf = doc_term_frequencies(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("total"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qt = dfq.where(F.length("term") >= 6).orderBy(F.col("df").desc(), "term").limit(3)
    return tf, dl, stats, qt


#: exhaustive BM25 top-20 — the oracle for BOTH q191 (which computes it
#: exhaustively) and q237 (which computes it MaxScore-pruned: hash
#: equality against the exhaustive oracle IS the pruning-soundness proof)
_BM25_EXHAUSTIVE_ORACLE = f"""
    WITH {_LEX_BASE_ORACLE}, scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
                      / CAST(2 * q.df + 1 AS DOUBLE))
                   * (CAST(22 * s.total * t.tf AS DOUBLE)
                      / CAST(10 * s.total * t.tf + 3 * s.total
                             + 9 * d.dl * s.n_docs AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM tf t JOIN qt q USING (term) JOIN dl d USING (doc_id), stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
               / 1000000000000.0 AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """


@query(
    "q191_bm25_topk",
    oracle=_BM25_EXHAUSTIVE_ORACLE,
    tags=("text", "bm25", "retrieval", "ranking", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q191_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval — the lexical scorer of every
    retrieval-augmented pipeline, next to the dense tier (q34/q53): the
    "query" is the corpus's own 3 highest-df terms of length >= 6
    (deterministic on both engines, df desc / term asc), k1 = 6/5,
    b = 3/4. All BM25 inputs are exact BIGINTs, so both transcendental-
    free ratios are single IEEE divisions of identical integers:
    idf = ln((2N+2)/(2df+1)) — the Lucene-style non-negative form,
    ln(1 + (N-df+0.5)/(df+0.5)) with the ±0.5 terms doubled into
    integers (r14: the Robertson form went negative on this corpus's
    ~77%-df query terms and ranked ANTI-relevance — see _bm25_idf) —
    and the saturation ratio restated over a common integer
    denominator, tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) =
    22*total*tf / (10*total*tf + 3*total + 9*dl*N) with avgdl = total/N
    substituted — no intermediate rounding anywhere.  Per-term scores
    are 1e-12 fixed-point BIGINTs, so the per-doc sum is order-
    independent (AQE-proof).  Shape at scale: ONE corpus scan builds
    the checkpointed (doc, term) tf table; dl, df, the 3-row query set
    and the 1-row totals all derive from it; scoring joins tf against
    the 3-term broadcast FIRST (the selectivity win — only matching
    postings survive), then the doc-length join runs shuffle_merge on
    doc_id (both sides unbounded); top-20 is TakeOrderedAndProject,
    never a global sort."""
    return (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


def _bm25_idf() -> Column:
    """Lucene-style non-negative BM25 idf over the joined (df, n_docs)
    columns: ln(1 + (N-df+0.5)/(df+0.5)) = ln((2N+2)/(2df+1)) with the
    ±0.5 terms doubled into exact integers.

    r14 change: the original Robertson form ln((2N-2df+1)/(2df+1)) goes
    NEGATIVE for df > N/2, and on this corpus every shared query term
    sits at df ≈ 0.77·N — so the whole BM25 family ranked ANTI-relevance
    (fewest query terms, longest docs, n_terms_hit ≡ 1 in every top-20,
    and q298's BM25-vs-QLD top-50s were provably disjoint).  The clamp
    is exactly why Lucene adds the +1 inside the log; it is monotone-
    decreasing in df and strictly positive, so rankings now reward
    query-term mass at any df.  Semantic reset for q191/q197/q237/q245/
    q256 (q298 carries its own term set and was reset separately)."""
    return F.log(
        (F.lit(2) * F.col("n_docs") + F.lit(2)).cast("double")
        / (F.lit(2) * F.col("df") + 1).cast("double")
    )


def _bm25_term_fp(postings: DataFrame, dl: DataFrame, stats: DataFrame) -> DataFrame:
    """(doc_id, term_fp): per-posting 1e-12 fixed-point BM25 term score
    over ``postings`` = (doc_id, term, tf, df) rows — q191's scoring
    expressions factored so the MaxScore path (q237) can score an
    arbitrary PRUNED posting subset with the identical arithmetic."""
    num = F.lit(22) * F.col("total") * F.col("tf")
    den = (
        F.lit(10) * F.col("total") * F.col("tf")
        + F.lit(3) * F.col("total")
        + F.lit(9) * F.col("dl") * F.col("n_docs")
    )
    in_bound = den.cast("double") < F.lit(EXACT_DOUBLE_BOUND)
    return (
        postings.join(dl.hint("shuffle_merge"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .where(
            exactness_guard(
                in_bound,
                "BM25: integer denominator >= 2^53 — the saturation "
                "ratio would silently lose precision",
            )
        )
        .select(
            "doc_id",
            "term",
            F.round(
                _bm25_idf() * (num.cast("double") / den.cast("double")) * F.lit(1e12)
            )
            .cast("long")
            .alias("term_fp"),
        )
    )


def _explicit_query_terms(spark: SparkSession, sf_dir: str, terms: tuple[str, ...]):
    """(tf, dl, stats, qt) with qt pinned to an EXPLICIT term set instead
    of the shared df-DESC picker — q298's recipe (see _RBO_QUERY_TERMS)."""
    tf = doc_term_frequencies(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("total"))
    qt = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("term").isin(*terms))
    )
    return tf, dl, stats, qt


def _bm25_doc_scores(
    spark: SparkSession, sf_dir: str, query_terms: tuple[str, ...] | None = None
) -> DataFrame:
    """(doc_id, n_terms_hit, score): q191's BM25 scorer over the cached
    tf substrate — reused by q197's rank fusion and (with an explicit
    ``query_terms`` override) q298's RBO."""
    if query_terms is None:
        tf, dl, stats, qt = _lex_query_terms(spark, sf_dir)
    else:
        tf, dl, stats, qt = _explicit_query_terms(spark, sf_dir, query_terms)
    scored = _bm25_term_fp(tf.join(F.broadcast(qt), "term"), dl, stats)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_hit"),
        (F.sum("term_fp").cast("double") / F.lit(1e12)).alias("score"),
    )


@query(
    "q195_phrase_proximity",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, t[i] AS term, CAST(i AS BIGINT) AS pos
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    ), docterm AS (
        SELECT DISTINCT doc_id, term FROM pos WHERE len(term) >= 6
    ), dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM docterm GROUP BY 1
    ), qrow AS (
        SELECT
          (SELECT term FROM dfq ORDER BY df DESC, term LIMIT 1) AS qa,
          (SELECT term FROM dfq ORDER BY df DESC, term LIMIT 1 OFFSET 1) AS qb
    ), pa AS (
        SELECT doc_id, pos FROM pos, qrow WHERE term = qa
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY pos) <= 200
    ), pb AS (
        SELECT doc_id, pos FROM pos, qrow WHERE term = qb
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY pos) <= 200
    ), pairs AS (
        SELECT pa.doc_id, abs(pa.pos - pb.pos) AS dist
        FROM pa JOIN pb USING (doc_id)
    ), prox AS (
        SELECT doc_id, CAST(MIN(dist) AS BIGINT) AS min_dist,
               CAST(SUM(CASE WHEN dist <= 4 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_within
        FROM pairs GROUP BY doc_id
    )
    SELECT doc_id, qrow.qa AS term_a, qrow.qb AS term_b, min_dist, n_within
    FROM prox, qrow WHERE min_dist <= 4
    ORDER BY min_dist, n_within DESC, doc_id LIMIT 20
    """,
    tags=("text", "retrieval", "proximity", "positional-index", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q195_phrase_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional proximity search (the NEAR operator) — docs where the
    corpus's two highest-df length>=6 terms (q191's deterministic query
    recipe) co-occur within 4 tokens: the retrieval primitive BM25
    (q191) cannot express, because bag-of-words scoring is blind to
    token ORDER.  Built on a positional postings list — (doc, term,
    pos) via posexplode — exactly the structure a phrase/proximity
    index ships at scale: BOTH query terms' postings reduce in ONE
    doc_id-keyed aggregate to per-doc position arrays (sorted, capped
    at the first 200 occurrences per term — bounded by doc length
    before the cap, so never corpus-scale per group), and the pair
    fold (min distance + within-window count) runs in-row with a
    single array-accumulator pass over the ≤200×200 capped pair grid
    (one HOF consumer, per the interpreted-lambda rule). r14 wave 4:
    this replaces two window-cap passes + a doc-keyed shuffle-merge
    pair join + a pair-stream aggregate — the pair stream never
    crosses an exchange, only the (doc, pos) postings do, once.  The
    tokenized corpus is localCheckpointed once; the df pass and the
    postings pass both read the checkpoint, so the parquet is scanned
    once.  All-integer distances; total order (min_dist, n_within
    desc, doc_id) with LIMIT 20 -> TakeOrderedAndProject."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    toksdf = d.select("doc_id", tokens_of("text").alias("toks")).localCheckpoint(
        eager=True
    )
    pos = toksdf.select(
        "doc_id", F.posexplode("toks").alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).cast("long").alias("pos"))
    docterm = (
        pos.where(F.length("term") >= 6).select("doc_id", "term").distinct()
    )
    dfq = docterm.groupBy("term").agg(F.count("*").alias("df"))
    qrow = (
        dfq.orderBy(F.col("df").desc(), "term")
        .limit(2)
        .agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("df")).alias("nd"), F.col("term")))
            ).alias("arr")
        )
        .select(
            F.col("arr")[0]["term"].alias("qa"), F.col("arr")[1]["term"].alias("qb")
        )
    )
    posq = pos.crossJoin(F.broadcast(qrow)).where(
        (F.col("term") == F.col("qa")) | (F.col("term") == F.col("qb"))
    )

    def side_positions(side: str):
        # first 200 occurrences per doc per term, identical to the former
        # per-side row_number()<=200 window cap (positions sort ascending)
        return F.slice(
            F.sort_array(
                F.collect_list(F.when(F.col("term") == F.col(side), F.col("pos")))
            ),
            1,
            200,
        )

    perdoc = posq.groupBy("doc_id").agg(
        side_positions("qa").alias("pas"),
        side_positions("qb").alias("pbs"),
        F.first("qa").alias("term_a"),
        F.first("qb").alias("term_b"),
    )
    dists = F.flatten(
        F.transform(
            "pas",
            lambda x: F.transform(F.col("pbs"), lambda y: F.abs(x - y)),
        )
    )
    # one fold computes BOTH stats so the interpreted dist grid is never
    # fanned into sibling HOF consumers (CLAUDE.md lambda rule)
    prox = F.aggregate(
        dists,
        F.struct(
            F.lit(2**62).cast("long").alias("mn"), F.lit(0).cast("long").alias("nw")
        ),
        lambda acc, dv: F.struct(
            F.least(acc["mn"], dv).alias("mn"),
            (acc["nw"] + F.when(dv <= 4, 1).otherwise(0)).alias("nw"),
        ),
    )
    return (
        perdoc.where((F.size("pas") > 0) & (F.size("pbs") > 0))
        .withColumn("__prox", prox)
        .select(
            "doc_id",
            "term_a",
            "term_b",
            F.col("__prox")["mn"].alias("min_dist"),
            F.col("__prox")["nw"].alias("n_within"),
        )
        .where(F.col("min_dist") <= 4)
        .orderBy("min_dist", F.col("n_within").desc(), "doc_id")
        .limit(20)
    )


_QLD_MU = 2000  # Dirichlet smoothing mass, exact integer


def _qld_doc_scores(
    spark: SparkSession, sf_dir: str, query_terms: tuple[str, ...] | None = None
) -> DataFrame:
    """(doc_id, n_terms_present, score): Dirichlet query-likelihood over
    the cached tf substrate — q196's scorer, reused by q197 and (with an
    explicit ``query_terms`` override) q298.  EVERY doc is scored
    (smoothing gives absent terms mass mu*cf/C), so the score grid is
    docs x 3 terms built by cross-joining the doc-length table with the
    broadcast query row, left-joined against the query-term postings."""
    if query_terms is None:
        tf, dl, stats, qt = _lex_query_terms(spark, sf_dir)
    else:
        tf, dl, stats, qt = _explicit_query_terms(spark, sf_dir, query_terms)
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    qtc = qt.join(F.broadcast(cf), "term")  # 3 rows: term, df, cf
    post = tf.join(F.broadcast(qtc.select("term")), "term").select(
        "doc_id", "term", "tf"
    )
    grid = dl.crossJoin(F.broadcast(qtc)).crossJoin(
        F.broadcast(stats.select("total"))
    )
    scored = grid.join(
        post.hint("shuffle_merge"), ["doc_id", "term"], "left"
    ).withColumn("tf0", F.coalesce("tf", F.lit(0)))
    num = F.col("tf0") * F.col("total") + F.lit(_QLD_MU) * F.col("cf")
    den = (F.col("dl") + F.lit(_QLD_MU)) * F.col("total")
    in_bound = den.cast("double") < F.lit(EXACT_DOUBLE_BOUND)
    term_fp = F.round(
        F.log(num.cast("double") / den.cast("double")) * F.lit(1e12)
    ).cast("long")
    return (
        scored.where(
            exactness_guard(
                in_bound,
                "q196: QLD integer denominator >= 2^53 — the smoothed "
                "likelihood would silently lose precision",
            )
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("tf0") > 0, 1).otherwise(0)).alias(
                "n_terms_present"
            ),
            (F.sum(term_fp).cast("double") / F.lit(1e12)).alias("score"),
        )
    )


@query(
    "q196_qld_topk",
    oracle=f"""
    WITH {_LEX_BASE_ORACLE}, cf AS (
        SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
    ), qtc AS (
        SELECT qt.term, cf.cf FROM qt JOIN cf USING (term)
    ), grid AS (
        SELECT dl.doc_id, dl.dl, qtc.term, qtc.cf, s.total
        FROM dl CROSS JOIN qtc, stats s
    ), scored AS (
        SELECT g.doc_id,
               COALESCE(t.tf, 0) AS tf0,
               CAST(ROUND(
                   ln(CAST(COALESCE(t.tf, 0) * g.total + 2000 * g.cf
                           AS DOUBLE)
                      / CAST((g.dl + 2000) * g.total AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM grid g
        LEFT JOIN tf t ON t.doc_id = g.doc_id AND t.term = g.term
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_terms_present,
           CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
               / 1000000000000.0 AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    tags=("text", "qld", "retrieval", "ranking", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q196_qld_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-20 — the second classic
    lexical scorer next to BM25 (q191), and deliberately a different
    SHAPE: QLD scores EVERY document (absent query terms contribute the
    smoothing mass mu*cf_t/C), so the plan is a docs x 3-term grid
    (cross join with the broadcast query row) left-joined against the
    query-term postings, where BM25's plan only touches matching
    postings.  score = SUM ln((tf + mu*cf/C)/(dl + mu)) with mu = 2000,
    restated over a common integer denominator as ln((tf*C + mu*cf) /
    ((dl + mu)*C)) — every ln input a ratio of exact BIGINTs under the
    2^53 guard, per-term 1e-12 fixed-point, order-independent BIGINT
    sum.  Same deterministic 3-term query and cached tf substrate as
    q191: the corpus is scanned once for the whole retrieval family."""
    return (
        _qld_doc_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q197_rrf_fusion",
    oracle=f"""
    WITH {_LEX_BASE_ORACLE}, bm_scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
                      / CAST(2 * q.df + 1 AS DOUBLE))
                   * (CAST(22 * s.total * t.tf AS DOUBLE)
                      / CAST(10 * s.total * t.tf + 3 * s.total
                             + 9 * d.dl * s.n_docs AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM tf t JOIN qt q USING (term) JOIN dl d USING (doc_id), stats s
    ), bm AS (
        SELECT doc_id,
               CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS score
        FROM bm_scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 100
    ), bm_rank AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS r
        FROM bm
    ), cf AS (
        SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
    ), qtc AS (
        SELECT qt.term, cf.cf FROM qt JOIN cf USING (term)
    ), grid AS (
        SELECT dl.doc_id, dl.dl, qtc.term, qtc.cf, s.total
        FROM dl CROSS JOIN qtc, stats s
    ), ql_scored AS (
        SELECT g.doc_id,
               CAST(ROUND(
                   ln(CAST(COALESCE(t.tf, 0) * g.total + 2000 * g.cf
                           AS DOUBLE)
                      / CAST((g.dl + 2000) * g.total AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM grid g
        LEFT JOIN tf t ON t.doc_id = g.doc_id AND t.term = g.term
    ), ql AS (
        SELECT doc_id,
               CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS score
        FROM ql_scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 100
    ), ql_rank AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS r
        FROM ql
    ), fused AS (
        SELECT COALESCE(b.doc_id, q.doc_id) AS doc_id,
               COALESCE(b.r, 0) AS bm25_rank,
               COALESCE(q.r, 0) AS qld_rank,
               (CASE WHEN b.r IS NULL THEN 0
                     ELSE CAST(ROUND(1000000000000.0 / (60 + b.r)) AS BIGINT)
                END
                + CASE WHEN q.r IS NULL THEN 0
                       ELSE CAST(ROUND(1000000000000.0 / (60 + q.r)) AS BIGINT)
                  END) AS rrf_fp
        FROM bm_rank b FULL OUTER JOIN ql_rank q USING (doc_id)
    )
    SELECT doc_id, bm25_rank, qld_rank,
           CAST(rrf_fp AS DOUBLE) / 1000000000000.0 AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT 20
    """,
    tags=("text", "retrieval", "rank-fusion", "rrf", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q197_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 (q191) and query-likelihood
    (q196) rankings — THE standard way hybrid retrieval stacks combine
    scorers without calibrating score scales: each scorer contributes
    1/(60 + rank) for its top-100, summed.  Ranks come from the two
    bounded top-100 lists (TakeOrderedAndProject first, so the only
    single-partition windows run over <= 100 rows — the bounded-derived
    -table exception), fused by a full outer join; 1/(60+r) is one IEEE
    division of exact small integers, 1e-12 fixed-pointed so the sum is
    order-independent.  Both scorers read the SAME cached tf substrate
    — the corpus is scanned once for the whole family."""
    from pyspark.sql import Window

    def ranked(scores: DataFrame) -> DataFrame:
        top = scores.orderBy(F.col("score").desc(), "doc_id").limit(100)
        w = Window.orderBy(F.col("score").desc(), "doc_id")  # bounded: 100 rows
        return top.select(
            "doc_id", F.row_number().over(w).cast("long").alias("r")
        )

    bm = ranked(_bm25_doc_scores(spark, sf_dir))
    ql = ranked(_qld_doc_scores(spark, sf_dir)).withColumnRenamed("r", "rq")
    contrib = lambda c: F.when(F.col(c).isNull(), F.lit(0)).otherwise(  # noqa: E731
        F.round(F.lit(1e12) / (F.lit(60) + F.col(c))).cast("long")
    )
    return (
        bm.join(ql, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("r", F.lit(0)).alias("bm25_rank"),
            F.coalesce("rq", F.lit(0)).alias("qld_rank"),
            ((contrib("r") + contrib("rq")).cast("double") / F.lit(1e12)).alias(
                "rrf_score"
            ),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q203_js_divergence_matrix",
    oracle=r"""
    WITH dt AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), cnt AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM dt GROUP BY 1, 2
    ), ns AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1
    ), pairs AS (
        SELECT a.source AS sa, b.source AS sb FROM ns a JOIN ns b
        ON a.source < b.source
    ), common AS (
        SELECT p.sa, p.sb,
               CAST(SUM(CAST(ROUND(
                   (CAST(ca.c AS DOUBLE) / na.n)
                   * ln(CAST(2 * ca.c * nb.n AS DOUBLE)
                        / CAST(ca.c * nb.n + cb.c * na.n AS DOUBLE))
                   * 1000000000000) AS BIGINT)) AS BIGINT) AS term_a_fp,
               CAST(SUM(CAST(ROUND(
                   (CAST(cb.c AS DOUBLE) / nb.n)
                   * ln(CAST(2 * cb.c * na.n AS DOUBLE)
                        / CAST(ca.c * nb.n + cb.c * na.n AS DOUBLE))
                   * 1000000000000) AS BIGINT)) AS BIGINT) AS term_b_fp,
               CAST(SUM(ca.c) AS BIGINT) AS mass_a,
               CAST(SUM(cb.c) AS BIGINT) AS mass_b
        FROM pairs p
        JOIN cnt ca ON ca.source = p.sa
        JOIN cnt cb ON cb.source = p.sb AND cb.tok = ca.tok
        JOIN ns na ON na.source = p.sa
        JOIN ns nb ON nb.source = p.sb
        GROUP BY 1, 2
    ), jsd AS (
        SELECT c.sa, c.sb,
               (CAST(c.term_a_fp AS DOUBLE) / 1000000000000.0
                + (1.0 - CAST(c.mass_a AS DOUBLE) / na.n) * ln(2)
                + CAST(c.term_b_fp AS DOUBLE) / 1000000000000.0
                + (1.0 - CAST(c.mass_b AS DOUBLE) / nb.n) * ln(2)) / 2
                   AS j
        FROM common c
        JOIN ns na ON na.source = c.sa
        JOIN ns nb ON nb.source = c.sb
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(ROUND(j * 1000000000) AS BIGINT) / 1000000000.0 AS jsd_nats,
           CAST(ROUND(j / ln(2) * 1000000000) AS BIGINT) / 1000000000.0
               AS jsd_normalized
    FROM jsd ORDER BY source_a, source_b
    """,
    tags=("text", "divergence", "jensen-shannon", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q203_js_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source token
    distributions — the SYMMETRIC, bounded [0, ln 2] companion of
    q103's one-vs-corpus KL: the matrix a mixing pipeline reads to find
    near-duplicate SOURCES (mirrors, syndication feeds) before setting
    sampling rates.  Decomposition that avoids a full-outer token join:
    for tokens present in BOTH sources the exact-ratio terms
    p·ln(2·c_a·n_b/(c_a·n_b + c_b·n_a)) accumulate in 1e-12 fixed
    point; tokens exclusive to one source contribute exactly p·ln 2, so
    their total is (1 − common_mass/n)·ln 2 — computed from the SAME
    inner join's mass sums, no anti-join pass.  One (source, tok)
    corpus shuffle (checkpointed); the pair join fans out only over
    tokens shared by a source pair, keyed on the token; per-source
    totals broadcast.  Every ln input is a ratio of exact BIGINTs
    (guarded); only the final /2 and /ln2 run on assembled doubles."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    cnt = (
        d.select("source", F.explode(tokens_of("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # one corpus shuffle; all pairs read it
    )
    ns = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    ca = cnt.select(
        F.col("source").alias("sa"), "tok", F.col("c").alias("c_a")
    )
    cb = cnt.select(
        F.col("source").alias("sb"), "tok", F.col("c").alias("c_b")
    )
    na = ns.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    nb = ns.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    joined = (
        ca.join(cb.hint("shuffle_merge"), "tok")
        .where(F.col("sa") < F.col("sb"))
        .join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
    )
    cross_a = F.col("c_a") * F.col("n_b")
    cross_b = F.col("c_b") * F.col("n_a")
    in_bound = (cross_a + cross_b).cast("double") < F.lit(EXACT_DOUBLE_BOUND)
    term = lambda c, n, cr: F.round(  # noqa: E731
        (F.col(c).cast("double") / F.col(n))
        * F.log((F.lit(2) * cr).cast("double") / (cross_a + cross_b).cast("double"))
        * F.lit(1e12)
    ).cast("long")
    common = (
        joined.where(
            exactness_guard(
                in_bound,
                "q203: JSD cross product >= 2^53 — fixed-point terms would "
                "silently lose precision",
            )
        )
        .groupBy("sa", "sb")
        .agg(
            F.sum(term("c_a", "n_a", cross_a)).alias("term_a_fp"),
            F.sum(term("c_b", "n_b", cross_b)).alias("term_b_fp"),
            F.sum("c_a").alias("mass_a"),
            F.sum("c_b").alias("mass_b"),
        )
    )
    ln2 = float(__import__("math").log(2.0))
    j = (
        F.col("term_a_fp").cast("double") / F.lit(1e12)
        + (F.lit(1.0) - F.col("mass_a").cast("double") / F.col("n_a")) * F.lit(ln2)
        + F.col("term_b_fp").cast("double") / F.lit(1e12)
        + (F.lit(1.0) - F.col("mass_b").cast("double") / F.col("n_b")) * F.lit(ln2)
    ) / 2
    return (
        common.join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            (F.round(j * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("jsd_nats"),
            (F.round(j / F.lit(ln2) * F.lit(1e9)).cast("long") / F.lit(1e9)).alias(
                "jsd_normalized"
            ),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "q206_sparse_cosine_pairs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), big AS (
        SELECT doc_id, source, t[i] || ' ' || t[i+1] AS g
        FROM toks, unnest(range(1, len(t))) AS u(i)
    ), tf AS (
        SELECT doc_id, source, g, CAST(COUNT(*) AS BIGINT) AS tf
        FROM big GROUP BY 1, 2, 3
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
    ), dfq AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), band AS (
        SELECT g, df FROM dfq, nn WHERE df >= 2 AND 10 * df <= nn.n
    ), w AS (
        SELECT t.doc_id, t.source, t.g,
               CAST(ROUND(t.tf * ln(CAST(nn.n AS DOUBLE) / b.df) * 1000)
                    AS BIGINT) AS wfp
        FROM tf t JOIN band b USING (g), nn
        QUALIFY row_number() OVER (PARTITION BY t.g, t.source
                                   ORDER BY t.doc_id) <= 200
    ), norms AS (
        SELECT doc_id, CAST(SUM(wfp * wfp) AS BIGINT) AS nsq
        FROM w GROUP BY 1
    ), dots AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.source,
               CAST(SUM(a.wfp * b.wfp) AS BIGINT) AS dot
        FROM w a JOIN w b ON a.g = b.g AND a.source = b.source
                         AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3
    ), scored AS (
        SELECT da, db, source,
               CAST(ROUND(CAST(dot AS DOUBLE)
                          / (sqrt(CAST(na.nsq AS DOUBLE))
                             * sqrt(CAST(nb.nsq AS DOUBLE)))
                          * 1000000000) AS BIGINT) / 1000000000.0 AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = dots.da
        JOIN norms nb ON nb.doc_id = dots.db
        WHERE dot > 0
    )
    SELECT da AS doc_a, db AS doc_b, source, cosine
    FROM scored
    ORDER BY cosine DESC, doc_a, doc_b LIMIT 20
    """,
    tags=("text", "retrieval", "sparse-cosine", "similarity-join", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q206_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE lexical cosine similarity join — TF-IDF vector cosine via
    the inverted-index (term-at-a-time) join: the document-similarity
    metric that catches paraphrase-level overlap shingle Jaccard
    (q162) misses and dense embeddings (q45) need a model for.

    r14 redesign (the constant-column audit caught the original DEAD:
    its absolute unigram df band [2, 100] admitted exactly ONE term on
    this 31-word template corpus — every vector was single-term, every
    reported cosine was identically 1.0, and at sf0.1 the band was
    EMPTY, zero rows — hash-green throughout).  Now: (a) the gram space
    is word BIGRAMS (~930 grams with genuinely mid-range df, so cosines
    spread — 20 distinct values in the top-20 at every SF); (b) the
    discriminative band is RELATIVE, df ∈ [2, N/10] by pure integer
    compare (10·df ≤ N), so it cannot empty as N grows; (c) pairs are
    BLOCKED BY SOURCE (the production per-domain near-dup pattern),
    bounding the join population; (d) each (gram, source) posting list
    caps at its first 200 doc_ids (q195's postings-cap discipline —
    inactive at test SFs, the web-scale fan-out bound).  Weights
    tf·ln(N/df) are 1e-3 fixed-pointed BIGINTs, so every pair dot
    product Σ w_a·w_b and every norm Σ w² is an EXACT integer sum
    (order-independent under AQE) off the ONE gram-keyed shuffle join —
    only the final sqrt/divide run on identical doubles, 1e-9-rounded.
    Top-20 under a total order -> TakeOrderedAndProject."""
    from pyspark.sql import Window

    d = spread_for_cpu(
        table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    toksdf = d.select("doc_id", "source", tokens_of("text").alias("toks"))
    big = toksdf.where(F.size("toks") >= 2).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("g"),
    )
    tf = (
        big.groupBy("doc_id", "source", "g")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # feeds df pass + the weight build
    )
    nn = tf.select("doc_id").distinct().agg(F.count("*").alias("n"))
    # df via a gram-partitioned window instead of groupBy + join back:
    # HashPartitioning(g) satisfies the (g, source) clustering of the
    # postings-cap window below, so ONE Exchange(g) now feeds both the
    # band filter and the cap (guide §2.4); the former dfq aggregate +
    # shuffle_merge join exchanged the checkpointed tf table twice.
    w_cap = Window.partitionBy("g", "source").orderBy("doc_id")
    w = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("g")))
        .crossJoin(F.broadcast(nn))
        .where((F.col("df") >= 2) & (F.lit(10) * F.col("df") <= F.col("n")))
        .select(
            "doc_id",
            "source",
            "g",
            F.round(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df"))
                * F.lit(1000)
            )
            .cast("long")
            .alias("wfp"),
        )
        .withColumn("__rn", F.row_number().over(w_cap))
        .where(F.col("__rn") <= 200)
        .drop("__rn")
        # r15: the norm Σw² rides each posting row out of the checkpoint
        # (one doc_id-partitioned window INSIDE the build) instead of a
        # separate groupBy(doc_id) aggregate attached to the scored pairs
        # through TWO corpus-scale shuffle-merge joins — net plan: 3 SMJ
        # → 1, and the post-aggregate tail loses 4 exchanges (guide
        # §2.4). nsq is an exact BIGINT functionally dependent on
        # doc_id, so carrying it via min() through the pair aggregate is
        # bit-identical to the join-back.
        .withColumn(
            "nsq", F.sum(F.col("wfp") * F.col("wfp")).over(Window.partitionBy("doc_id"))
        )
        .localCheckpoint(eager=True)  # feeds both join sides
    )
    # Pair generation must not serialize (r14 verdict item 3: 8c/32c
    # ratio 0.75): the postings are BYTE-small at test scale, so the
    # join's own Exchange(g, source) gets AQE-coalesced to ~1 task,
    # which then expands every posting pair and runs the partial dot
    # aggregate serially. An EXPLICIT repartition(npart, g, source) is
    # exempt from AQE coalescing (REPARTITION_BY_NUM), satisfies the
    # join's clustering on both sides (one exchange, reused), and keys
    # on ~930 grams × sources — far more distinct values than tasks, so
    # it spreads (guide §2.5); npart tracks defaultParallelism, not a
    # local constant.
    npart = spark.sparkContext.defaultParallelism
    wp = w.repartition(npart, "g", "source")
    a = wp.select(
        F.col("doc_id").alias("da"),
        "source",
        "g",
        F.col("wfp").alias("wa"),
        F.col("nsq").alias("nsq_a"),
    )
    b = wp.select(
        F.col("doc_id").alias("db"),
        "source",
        "g",
        F.col("wfp").alias("wb"),
        F.col("nsq").alias("nsq_b"),
    )
    dots = (
        a.join(b.hint("shuffle_merge"), ["g", "source"])
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db", "source")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.min("nsq_a").alias("nsq_a"),
            F.min("nsq_b").alias("nsq_b"),
        )
        .where(F.col("dot") > 0)
    )
    in_bound = (F.col("dot").cast("double") < F.lit(EXACT_DOUBLE_BOUND)) & (
        F.col("nsq_a").cast("double") < F.lit(EXACT_DOUBLE_BOUND)
    ) & (F.col("nsq_b").cast("double") < F.lit(EXACT_DOUBLE_BOUND))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("nsq_a").cast("double")) * F.sqrt(F.col("nsq_b").cast("double"))
    )
    return (
        dots.where(
            exactness_guard(
                in_bound,
                "q206: fixed-point dot/norm >= 2^53 — cosine would silently "
                "lose precision",
            )
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "source",
            (F.round(cos * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "q209_token_gini_concentration",
    oracle=r"""
    WITH counts AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> len(t) > 0)) AS BIGINT) AS v
        FROM documents
    ), hist AS (
        SELECT source, v, CAST(COUNT(*) AS BIGINT) AS f
        FROM counts GROUP BY 1, 2
    ), cum AS (
        SELECT source, v, f,
               CAST(COALESCE(SUM(f) OVER (
                   PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS fb
        FROM hist
    ), agg AS (
        SELECT source,
               CAST(SUM(f) AS BIGINT)     AS n,
               CAST(SUM(v * f) AS BIGINT) AS sx,
               CAST(SUM(v * (f * fb + (f * (f + 1)) // 2)) AS BIGINT) AS s1
        FROM cum GROUP BY source
    )
    SELECT source, n AS n_docs, sx AS total_tokens,
           CAST(ROUND(CAST(2 * s1 - (n + 1) * sx AS DOUBLE)
                      / CAST(n * sx AS DOUBLE) * 1000000000) AS BIGINT)
               / 1000000000.0 AS gini
    FROM agg
    WHERE sx > 0
    ORDER BY source
    """,
    tags=("text", "gini", "concentration", "curation", "llm-pipeline"),
)
def q209_token_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-document token volume within each source —
    the inequality diagnostic behind per-source budget decisions
    (a source at G~0 contributes uniformly-sized documents; G->1 means
    a few mega-documents carry the shard, so doc-level sampling rates
    and dedup policies hit it very differently than its doc count
    suggests). Complements q187's entropy (which sees only the
    source-level totals) with the WITHIN-source shape.

    Exactness without a corpus-wide sort: Gini needs the rank-weighted
    sum over ASCENDING token counts, and ranks come from the q94/q125
    two-level prefix-sum trick — collapse docs to the bounded (source,
    token_count) histogram, take the running count over the histogram
    (the only window, partitioned per source over a few hundred rows),
    and expand each tie block's rank range in closed form:
    sum_{i in block} i*v = v*(f*F_before + f(f+1)/2). Everything up to
    the single 1e-9-rounded division is exact BIGINT arithmetic, and
    G = (2*S1 - (n+1)*Sx) / (n*Sx) uses identical integers on both
    engines (2^53 magnitudes guarded)."""
    from pyspark.sql import Window

    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    counts = d.select("source", token_count("text").alias("v"))
    hist = counts.groupBy("source", "v").agg(F.count("*").alias("f"))
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn("fb", F.coalesce(F.sum("f").over(w), F.lit(0)))
    block_s1 = F.col("v") * (
        F.col("f") * F.col("fb") + int_div(F.col("f") * (F.col("f") + 1), F.lit(2))
    )
    agg = cum.groupBy("source").agg(
        F.sum("f").alias("n"),
        F.sum(F.col("v") * F.col("f")).alias("sx"),
        F.sum(block_s1).alias("s1"),
    )
    num = F.lit(2) * F.col("s1") - (F.col("n") + 1) * F.col("sx")
    den = F.col("n") * F.col("sx")
    in_bound = (F.abs(num).cast("double") < F.lit(EXACT_DOUBLE_BOUND)) & (
        den.cast("double") < F.lit(EXACT_DOUBLE_BOUND)
    )
    return (
        agg.where(F.col("sx") > 0)
        .where(
            exactness_guard(
                in_bound,
                "q209: gini numerator/denominator >= 2^53 — double division "
                "would silently lose precision",
            )
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("sx").alias("total_tokens"),
            (F.round(num.cast("double") / den.cast("double") * F.lit(1e9)).cast("long") / F.lit(1e9)).alias("gini"),
        )
        .orderBy("source")
    )


@query(
    "q212_distinctive_terms_logodds",
    oracle=r"""
    WITH dt AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), cnt AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM dt GROUP BY 1, 2
    ), ns AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cnt GROUP BY 1
    ), yw AS (
        SELECT tok, CAST(SUM(c) AS BIGINT) AS y_w FROM cnt GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt
    ), sc AS (
        SELECT cnt.source, cnt.tok, cnt.c, ns.n_s, yw.y_w, tot.n,
               1000.0 * yw.y_w / tot.n AS aw
        FROM cnt
        JOIN ns USING (source)
        JOIN yw USING (tok)
        CROSS JOIN tot
        WHERE cnt.c >= 5
    ), z AS (
        SELECT source, tok, c, y_w,
               CAST(ROUND(
                   (ln((c + aw) / (n_s + 1000.0 - c - aw))
                    - ln((y_w - c + aw)
                         / (n - n_s + 1000.0 - (y_w - c) - aw)))
                   / sqrt(1.0 / (c + aw) + 1.0 / (y_w - c + aw))
                   * 1000000000) AS BIGINT) AS z9
        FROM sc
        WHERE n_s + 1000.0 - c - aw > 0
          AND n - n_s + 1000.0 - (y_w - c) - aw > 0
    ), ranked AS (
        SELECT source, tok, c, y_w, z9,
               row_number() OVER (PARTITION BY source
                                  ORDER BY z9 DESC, tok) AS rn
        FROM z
    )
    SELECT source, tok AS term, c AS n_occurrences, y_w AS corpus_count,
           z9 / 1000000000.0 AS log_odds_z
    FROM ranked WHERE rn <= 10
    ORDER BY source, log_odds_z DESC, term
    """,
    tags=("text", "log-odds", "distinctive-terms", "curation", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q212_distinctive_terms_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHAT makes each source different — top-10 distinctive terms by
    the Monroe et al. log-odds ratio with an informative Dirichlet
    prior (the lexical contrast statistic that fixes both raw-ratio
    small-count blowups and TF-IDF's indifference to the comparison
    corpus): source-vs-rest log-odds delta, shrunk by a prior
    proportional to corpus frequency (a0 = 1000 pseudo-tokens),
    standardized by its estimated variance. The curation read next to
    q187 (entropy says HOW diverse, this says WITH WHAT) and q103/q203
    (divergence says HOW FAR, this names the terms).

    Determinism: every double is assembled per-row from exact BIGINTs
    (c, n_s, y_w, n) in identical expression order on both engines —
    there are no cross-row float sums anywhere; the ranking key is the
    1e-9 fixed-point INTEGER z9 with term tiebreak. Shape at scale:
    one (source, tok) corpus shuffle; the vocab-sized y_w margin joins
    back token-keyed (pinned shuffle-merge, never broadcast); the
    bounded per-source margin and scalar total broadcast; the top-10
    filter compiles to WindowGroupLimit, so no source partition is
    ever fully sorted."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    cnt = (
        d.select("source", F.explode(tokens_of("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # margins + candidates derive from it
    )
    from pyspark.sql import Window

    ns = cnt.groupBy("source").agg(F.sum("c").alias("n_s"))
    # corpus margin y_w rides a vocab-partitioned window over cnt's one
    # exchange (r14 wave 5; formerly groupBy(tok) + shuffle-merge join
    # back). Computed BEFORE the c >= 5 candidate filter, like the
    # former aggregate-over-all-rows.
    yw = F.sum("c").over(Window.partitionBy("tok"))
    tot = cnt.agg(F.sum("c").alias("n"))
    sc = (
        cnt.withColumn("y_w", yw)
        .where(F.col("c") >= 5)
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .where(
            exactness_guard(
                F.col("n").cast("double") < F.lit(EXACT_DOUBLE_BOUND),
                "q212: corpus token total >= 2^53 — log-odds doubles would "
                "silently lose precision",
            )
        )
    )
    aw = F.lit(1000.0) * F.col("y_w") / F.col("n")
    den1 = F.col("n_s") + F.lit(1000.0) - F.col("c") - aw
    den2 = (
        F.col("n") - F.col("n_s") + F.lit(1000.0)
        - (F.col("y_w") - F.col("c")) - aw
    )
    delta = F.log((F.col("c") + aw) / den1) - F.log(
        (F.col("y_w") - F.col("c") + aw) / den2
    )
    var = F.lit(1.0) / (F.col("c") + aw) + F.lit(1.0) / (
        F.col("y_w") - F.col("c") + aw
    )
    z9 = F.round(delta / F.sqrt(var) * F.lit(1e9)).cast("long")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("z9").desc(), "tok")
    return (
        sc.where((den1 > 0) & (den2 > 0))
        .withColumn("z9", z9)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select(
            "source",
            F.col("tok").alias("term"),
            F.col("c").alias("n_occurrences"),
            F.col("y_w").alias("corpus_count"),
            (F.col("z9") / F.lit(1e9)).alias("log_odds_z"),
        )
        .orderBy("source", F.col("log_odds_z").desc(), "term")
    )


@query(
    "q227_zipf_slope",
    oracle=r"""
    WITH dt AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), cnt AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM dt GROUP BY 1, 2
    ), ranked AS (
        SELECT source, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, tok) AS rnk
        FROM cnt
    ), pts AS (
        SELECT source,
               CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x6,
               CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y6
        FROM ranked WHERE rnk <= 100
    ), sums AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x6) AS BIGINT) AS sx,
               CAST(SUM(y6) AS BIGINT) AS sy,
               CAST(SUM(x6 * y6) AS BIGINT) AS sxy,
               CAST(SUM(x6 * x6) AS BIGINT) AS sxx,
               CAST(SUM(y6 * y6) AS BIGINT) AS syy
        FROM pts GROUP BY 1
    )
    SELECT source, n AS n_fit,
           CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
               / 1000000.0 AS zipf_slope,
           CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE))
                      * 1000000) AS BIGINT) / 1000000.0 AS r2
    FROM sums
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY source
    """,
    tags=("text", "zipf", "statistics", "curation", "llm-pipeline"),
)
def q227_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope per source — the power-law diagnostic a
    corpus audit reads next to q111's length histogram and q126's
    vocabulary growth: OLS of ln(count) on ln(rank) over each source's
    top-100 tokens (natural text sits near slope −1; a flat slope flags
    templated/synthetic shards, a cliff flags boilerplate domination).
    Determinism: the ln values are 1e-6 fixed-pointed to BIGINT PER
    POINT (the q212 discipline), so all five regression sums are exact
    integers and the slope/R² are single identical double expressions —
    no cross-row float accumulation anywhere. Shape at scale: one
    (source, tok) count shuffle; the top-100 rank compiles to
    WindowGroupLimit (map-side partial top-k, no source partition ever
    fully sorts); the regression runs on ≤100 bounded rows per
    source. Degenerate fits are FILTERED identically on both engines
    (a single-rank source zeroes the x-variance; a shard of all-equal
    counts zeroes the y-variance — either would make slope/R² 0/0 and
    crash the NaN→BIGINT cast under ANSI)."""
    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    cnt = (
        d.select("source", F.explode(tokens_of("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "tok")
    pts = (
        cnt.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 100)
        .select(
            "source",
            F.round(F.log(F.col("rnk").cast("double")) * 1000000)
            .cast("long")
            .alias("x6"),
            F.round(F.log(F.col("c").cast("double")) * 1000000)
            .cast("long")
            .alias("y6"),
        )
    )
    sums = pts.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x6").alias("sx"),
        F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
        F.sum(F.col("y6") * F.col("y6")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sums.where((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
                      & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)).select(
        "source",
        F.col("n").alias("n_fit"),
        (F.round(num / den * 1000000).cast("long") / F.lit(1000000.0)).alias(
            "zipf_slope"
        ),
        (
            F.round(num * num / (den * deny) * 1000000).cast("long")
            / F.lit(1000000.0)
        ).alias("r2"),
    ).orderBy("source")


@query(
    "q229_incremental_index_refresh",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, doc_id % 5 = 0 AS is_delta,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), dt AS (
        SELECT doc_id, is_delta, unnest(list_distinct(t)) AS term FROM toks
    ), tf AS (
        SELECT unnest(t) AS term FROM toks
    ), merged AS (
        SELECT term,
               CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT)
                   AS df_old,
               CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
                   AS df_delta,
               CAST(COUNT(*) AS BIGINT) AS df_merged
        FROM dt GROUP BY 1
    ), tfm AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS tf_merged FROM tf GROUP BY 1
    )
    SELECT m.term, m.df_old, m.df_delta, m.df_merged, t.tf_merged
    FROM merged m JOIN tfm t USING (term)
    ORDER BY m.df_merged DESC, m.term
    LIMIT 20
    """,
    tags=("text", "retrieval", "incremental", "index-refresh", "llm-pipeline"),
)
def q229_incremental_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LEXICAL INDEX refresh — q165's algebraic-refresh
    invariant applied to the retrieval tier (and q219's arriving-batch
    shape applied to text): the BM25/QLD family's df/tf statistics are
    pure sums, so when a delta batch arrives (doc_id % 5 == 0) the
    index updates by MERGING the old index's per-term stats with stats
    computed over the DELTA ALONE — the Spark side never aggregates
    old∪delta together (two separate aggregations + one term-keyed
    merge join), while the oracle recomputes everything from the full
    corpus; hash equality proves the merge is lossless, which is the
    invariant that lets a 100 TB index absorb a 0.1 TB recrawl without
    a full rebuild. Reports the top-20 terms by merged df with the
    old/delta decomposition. The df side dedups per document in-row
    (array_distinct — one shuffle row per (doc, term)); the merge join
    is term-keyed pinned shuffle-merge (vocabulary tables are unbounded
    — never broadcast)."""
    from database_migrator_spark.operators.dedup import tokens_of

    d = spread_for_cpu(table(spark, sf_dir, "documents")).select(
        "doc_id", (F.col("doc_id") % 5 == 0).alias("is_delta"), tokens_of("text").alias("t")
    )
    old = d.where(~F.col("is_delta"))
    delta = d.where(F.col("is_delta"))

    def df_of(part: DataFrame, alias: str) -> DataFrame:
        return (
            part.select(F.explode(F.array_distinct("t")).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias(alias))
        )

    def tf_of(part: DataFrame, alias: str) -> DataFrame:
        return (
            part.select(F.explode("t").alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias(alias))
        )

    df_old = df_of(old, "df_old")
    df_delta = df_of(delta, "df_delta")
    tf_old = tf_of(old, "tf_old")
    tf_delta = tf_of(delta, "tf_delta")
    merged_df = (
        df_old.join(df_delta.hint("shuffle_merge"), "term", "full_outer")
        .select(
            "term",
            F.coalesce("df_old", F.lit(0)).alias("df_old"),
            F.coalesce("df_delta", F.lit(0)).alias("df_delta"),
        )
        .withColumn("df_merged", F.col("df_old") + F.col("df_delta"))
    )
    merged_tf = (
        tf_old.join(tf_delta.hint("shuffle_merge"), "term", "full_outer")
        .select(
            "term",
            (F.coalesce("tf_old", F.lit(0)) + F.coalesce("tf_delta", F.lit(0))).alias(
                "tf_merged"
            ),
        )
    )
    return (
        merged_df.join(merged_tf.hint("shuffle_merge"), "term")
        .select("term", "df_old", "df_delta", "df_merged", "tf_merged")
        .orderBy(F.col("df_merged").desc(), "term")
        .limit(20)
    )


@query(
    "q237_bm25_maxscore_topk",
    # the EXHAUSTIVE computation over q237's own query-term rule — hash
    # equality against it is the cross-engine pruning-soundness proof
    oracle=f"""
    WITH {_LEX_BASE_ORACLE}, qt2 AS (
        SELECT term, df FROM dfq
        ORDER BY df ASC, term LIMIT 3
    ), scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
                      / CAST(2 * q.df + 1 AS DOUBLE))
                   * (CAST(22 * s.total * t.tf AS DOUBLE)
                      / CAST(10 * s.total * t.tf + 3 * s.total
                             + 9 * d.dl * s.n_docs AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM tf t JOIN qt2 q USING (term) JOIN dl d USING (doc_id), stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
               / 1000000000000.0 AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    tags=("text", "bm25", "retrieval", "ranking", "maxscore", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q237_bm25_maxscore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxScore-pruned BM25 top-20 (Turtle & Flood 1995) — the
    100 TB-honest retrieval tier above q191's exhaustive scoring: at
    scale the posting lists of frequent query terms dominate cost, and
    an upper-bound argument lets the engine SKIP scoring documents that
    cannot enter the top-k. The oracle is the EXHAUSTIVE computation
    (identical to q191's), so the driver's hash equality is a
    cross-engine proof that the pruning is sound, not just plausible.

    Plan (all in-plan, zero driver-side branching):
    1. per-term upper bound from df alone — idf·(k1+1) clamped at 0
       (tf-saturation is < k1+1 = 2.2 for any tf/dl, and a negative-idf
       term can only subtract), 1e-12 fixed-point so every comparison
       below is exact integer;
    2. phase A fully scores only documents containing the highest-UB
       (= rarest) query term; θ = the 20th-best phase-A score_fp
       (LONG_MIN when fewer than 20 — no pruning possible);
    3. documents lacking that term can score at most Σ UB(remaining
       terms); the 1-row (θ, Σrest) broadcast gates phase B — when
       Σrest < θ the whole non-essential candidate set is eliminated
       without touching its postings, exactly MaxScore's essential-list
       rule (ties at Σrest == θ are kept: a tying doc can still win on
       the doc_id tiebreak).
    Monotone-rounding soundness: per-posting term_fp = round(x·1e12)
    with x < idf·(k1+1), and round is monotone, so term_fp ≤ ub_fp
    exactly. Every corpus-sized join side is pinned shuffle-merge; the
    only broadcasts are the 3-row query set, 1-row stats/θ/Σrest, and
    the 1-row essential-term pick.

    Query-term rule: the 3 RAREST terms (df asc, term asc) — the
    discriminative-keyword regime retrieval actually serves (q191's
    highest-df pick selects stopword-class terms whose upper bounds are
    all nearly equal, so the essential-list split prunes little). On
    this corpus the rarest term ('dup') towers over the others —
    idf ≈ 3.0 vs ≈ 0.28 under the r14 Lucene-clamped idf (formerly the
    other two were NEGATIVE and their bounds clamped to 0; the
    GREATEST(·, 0) stays as a safety net though the clamped idf cannot
    go below 0) — so once phase A fills the top-20 (θ ≈ 3e12 > Σrest ≈
    1.2e12) EVERY document lacking that term is eliminated without
    scoring — ~95% of the corpus skipped at sf0.1, while sf0.001
    (rarest df < 20 → θ = LONG_MIN) exercises the no-prune branch of
    the same plan."""
    tf, dl, stats, qt_unused = _lex_query_terms(spark, sf_dir)
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qt = dfq.orderBy(F.col("df").asc(), "term").limit(3).select("term", "df")
    postings = tf.join(F.broadcast(qt), "term")  # (doc_id, term, tf, df)
    ub = qt.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(F.greatest(_bm25_idf(), F.lit(0.0)) * F.lit(2.2) * F.lit(1e12))
        .cast("long")
        .alias("ub_fp"),
    )
    t1 = ub.orderBy(F.col("ub_fp").desc(), "term").limit(1).select("term")
    rest_ub = ub.join(F.broadcast(t1), "term", "left_anti").agg(
        F.coalesce(F.sum("ub_fp"), F.lit(0).cast("long")).alias("rest_ub_fp")
    )
    docs1 = postings.join(F.broadcast(t1), "term", "left_semi").select("doc_id")
    scored1 = (
        _bm25_term_fp(
            postings.join(docs1.hint("shuffle_merge"), "doc_id", "left_semi"),
            dl,
            stats,
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_terms_hit"), F.sum("term_fp").alias("score_fp"))
        .localCheckpoint(eager=True)  # feeds θ AND the final union
    )
    theta = (
        scored1.orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(20)
        .agg(
            F.when(F.count("*") < 20, F.lit(-(1 << 62)).cast("long"))
            .otherwise(F.min("score_fp"))
            .alias("theta_fp")
        )
    )
    docs2 = (
        postings.join(docs1.hint("shuffle_merge"), "doc_id", "left_anti")
        .select("doc_id")
        .distinct()
    )
    kept2 = (
        docs2.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(rest_ub))
        .where(F.col("rest_ub_fp") >= F.col("theta_fp"))
        .select("doc_id")
    )
    scored2 = (
        _bm25_term_fp(
            postings.join(kept2.hint("shuffle_merge"), "doc_id", "left_semi"),
            dl,
            stats,
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_terms_hit"), F.sum("term_fp").alias("score_fp"))
    )
    return (
        scored1.unionByName(scored2)
        .select(
            "doc_id",
            "n_terms_hit",
            (F.col("score_fp").cast("double") / F.lit(1e12)).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q243_kneser_ney_bigram_score",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS ts
        FROM documents
    ), bg AS (
        SELECT doc_id, pair[1] AS w1, pair[2] AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ts)),
                                         i -> [ts[i], ts[i+1]])) AS pair
            FROM toks WHERE len(ts) >= 2
        )
    ), c2 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
    ), c1 AS (
        SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1f
        FROM c2 GROUP BY 1
    ), cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM c2 GROUP BY 1
    ), tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c2),
    probs AS (
        SELECT c2.w1, c2.w2,
               CAST((4 * c2.c2 - 3) * 1000000000000 // (4 * c1.c1)
                    + ((3 * c1.n1f * 1000000000000) // (4 * c1.c1))
                      * cont.n1p // (SELECT t FROM tt) AS BIGINT) AS p_fp
        FROM c2 JOIN c1 USING (w1) JOIN cont USING (w2)
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(round(-ln(CAST(p_fp AS DOUBLE) / 1000000000000.0)
                               * 1000000000000) AS BIGINT)) AS DOUBLE)
               / 1000000000000.0 / COUNT(*) AS avg_kn_nll
    FROM bg JOIN probs USING (w1, w2)
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
    tags=("text", "lm", "smoothing", "quality", "llm-pipeline"),
)
def q243_kneser_ney_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surprisal under an INTERPOLATED KNESER-NEY bigram
    model — the production LM-scoring tier above q108's unsmoothed MLE:
    absolute discounting (D = 3/4) moves mass from observed bigrams to a
    CONTINUATION model (how many distinct left-contexts a word follows —
    'francisco' is frequent but only ever follows 'san', so its
    continuation probability is tiny), the smoothing that KenLM-style
    corpus-quality scorers actually use. P(w2|w1) = (c2−D)/c1 +
    D·N1+(w1,·)/c1 · N1+(·,w2)/T; every input is an exact BIGINT, the
    probability is assembled in 1e-12 fixed point with two integer floor
    divisions mirrored verbatim on both engines ((4c2−3)·1e12 DIV 4c1 +
    (3·N1f·1e12 DIV 4c1)·N1p DIV T — D=3/4 folded into integers), and
    per-doc surprisal is the q108 order-free fixed-point sum of
    −ln(p_fp/1e12) over exact identical doubles.

    Shape at scale: q108's exact shape plus two more bigram-vocabulary
    aggregates (left fan-out N1+(w1,·) rides the c1 fold; right
    continuation N1+(·,w2) is one more c2 aggregate) and a 1-row type
    total; the instance stream joins the assembled probability table on
    (w1, w2) pinned shuffle-merge (bigram vocabulary NEVER broadcasts,
    q108/q103's lesson)."""
    from pyspark.sql import Window

    d = spread_for_cpu(table(spark, sf_dir, "documents"))
    bg = doc_bigrams(d)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    tt = c2.agg(F.count("*").alias("t"))
    fp = F.lit(1_000_000_000_000)
    p_fp = int_div((4 * F.col("c2") - 3) * fp, 4 * F.col("c1")) + int_div(
        int_div(3 * F.col("n1f") * fp, 4 * F.col("c1")) * F.col("n1p"),
        F.col("t"),
    )
    # both marginals via vocabulary-partitioned windows over the ONE c2
    # table instead of two groupBy+join-back pairs: the former shape
    # re-derived c2 under each join side and exchanged it twice per
    # marginal (guide §2.4 — share the exchange between operations
    # keyed the same way).  Identical BIGINT values, so p_fp is
    # bit-identical.
    probs = (
        c2.withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
        .withColumn("n1f", F.count("*").over(Window.partitionBy("w1")))
        .withColumn("n1p", F.count("*").over(Window.partitionBy("w2")))
        .crossJoin(F.broadcast(tt))
        .where(
            exactness_guard(
                (F.col("c2") < F.lit(2_000_000))
                & (F.col("n1f") < F.lit(3_000_000)),
                "q243: bigram count >= 2e6 or fan-out >= 3e6 — the 1e-12 "
                "fixed-point assembly would exceed 2^63; rescale SCALE",
            )
        )
        .select("w1", "w2", p_fp.cast("long").alias("p_fp"))
    )
    nll = -F.log(F.col("p_fp").cast("double") / F.lit(1e12))
    return (
        bg.join(probs.hint("shuffle_merge"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum(F.round(nll * F.lit(1e12)).cast("long")).cast("double")
                / F.lit(1e12)
                / F.count("*")
            ).alias("avg_kn_nll"),
        )
        .orderBy("doc_id")
    )


@query(
    "q245_rm3_expansion_rescore",
    oracle=f"""
    WITH {_LEX_BASE_ORACLE}, scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
                      / CAST(2 * q.df + 1 AS DOUBLE))
                   * (CAST(22 * s.total * t.tf AS DOUBLE)
                      / CAST(10 * s.total * t.tf + 3 * s.total
                             + 9 * d.dl * s.n_docs AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM tf t JOIN qt q USING (term) JOIN dl d USING (doc_id), stats s
    ), b10 AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
                       / 1000000000000.0 AS score
            FROM scored GROUP BY doc_id
        ) ORDER BY score DESC, doc_id LIMIT 10
    ), rm AS (
        SELECT t.term,
               CAST(SUM(t.tf * 1000000000 // d.dl) AS BIGINT) AS rm_fp
        FROM tf t JOIN b10 USING (doc_id) JOIN dl d USING (doc_id)
        GROUP BY 1
    ), exp8 AS (
        SELECT term, rm_fp FROM rm WHERE len(term) >= 4
        ORDER BY rm_fp DESC, term LIMIT 8
    ), srm AS (SELECT CAST(SUM(rm_fp) AS BIGINT) AS total_rm FROM exp8),
    wts AS (
        SELECT term, CAST(SUM(w) AS BIGINT) AS w_fp FROM (
            SELECT term, CAST(1666 AS BIGINT) AS w FROM qt
            UNION ALL
            SELECT term,
                   CAST(5000 * rm_fp // (SELECT total_rm FROM srm) AS BIGINT)
                       AS w
            FROM exp8
        ) GROUP BY 1
    ), resc AS (
        SELECT t.doc_id,
               w.w_fp * CAST(ROUND(
                   ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
                      / CAST(2 * q.df + 1 AS DOUBLE))
                   * (CAST(22 * s.total * t.tf AS DOUBLE)
                      / CAST(10 * s.total * t.tf + 3 * s.total
                             + 9 * d.dl * s.n_docs AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS wterm_fp
        FROM tf t JOIN wts w USING (term) JOIN dfq q USING (term)
             JOIN dl d USING (doc_id), stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST(CAST(SUM(wterm_fp) AS BIGINT) AS DOUBLE)
               / 10000000000000000.0 AS score
    FROM resc GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    tags=("text", "retrieval", "rm3", "query-expansion", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q245_rm3_expansion_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft relevance models,
    the Anserini default): run the q191 BM25 query, take the top-10
    feedback docs, estimate a relevance model over their vocabulary
    (rm(w) = Σ_d tf(w,d)/dl_d — uniform P(d), each term's expected
    in-feedback likelihood), pick the 8 strongest len≥4 expansion terms,
    interpolate with the original query at λ=1/2, and RESCORE the corpus
    with the weighted query — the classic recall lever over one-shot
    BM25, all on the same checkpointed tf substrate (no extra corpus
    scan).

    Determinism: rm masses are Σ tf·1e9 DIV dl integers; λ-interpolated
    weights live in 1e4 fixed point (orig terms 1666 each ≈ (1/2)/3;
    expansion 5000·rm DIV Σrm — summed where a term is both); each
    rescore contribution is w_fp · term_fp (≤3e17, 11-term sums stay
    under 2^63), so scores are exact BIGINTs in 1e-16 scale. All
    selection steps carry total orders (score/doc_id, rm/term).
    Shape at scale: feedback set is a 10-row broadcast; the rm fold is
    bounded by 10 docs' vocabulary; the ≤11-term weighted query
    broadcasts into the postings join; dl joins stay shuffle-merge;
    top-20 is TakeOrderedAndProject."""
    tf, dl, stats, qt = _lex_query_terms(spark, sf_dir)
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    top10 = (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .select("doc_id")
        # 10-row bounded frame whose subtree is the FULL feedback BM25
        # run — materialize once instead of re-deriving it under every
        # downstream broadcast (rm → exp8 → srm/wts each re-planned it)
        .localCheckpoint(eager=True)
    )
    rm = (
        tf.join(F.broadcast(top10), "doc_id")
        .join(dl.hint("shuffle_merge"), "doc_id")
        .groupBy("term")
        .agg(
            F.sum(
                int_div(F.col("tf") * F.lit(1_000_000_000), F.col("dl"))
            ).alias("rm_fp")
        )
    )
    exp8 = (
        rm.where(F.length("term") >= 4)
        .orderBy(F.col("rm_fp").desc(), "term")
        .limit(8)
        .localCheckpoint(eager=True)  # ≤8 rows; feeds srm AND wts
    )
    srm = exp8.agg(F.sum("rm_fp").alias("total_rm"))
    wts = (
        qt.select("term", F.lit(1666).cast("long").alias("w"))
        .unionByName(
            exp8.crossJoin(F.broadcast(srm)).select(
                "term",
                int_div(
                    F.lit(5000) * F.col("rm_fp"), F.col("total_rm")
                ).alias("w"),
            )
        )
        .groupBy("term")
        .agg(F.sum("w").alias("w_fp"))
        .localCheckpoint(eager=True)  # ≤11 rows; feeds qterms AND rescore
    )
    qterms = wts.join(dfq, "term")  # ≤11 rows: weights + per-term df
    scored = _bm25_term_fp(tf.join(F.broadcast(qterms), "term"), dl, stats)
    return (
        scored.join(F.broadcast(wts), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            (
                F.sum(F.col("w_fp") * F.col("term_fp")).cast("double")
                / F.lit(1e16)
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q254_unseen_mass_estimate",
    oracle=r"""
    WITH tok AS (
        SELECT source, unnest(list_filter(
                   string_split_regex(lower(text), '\s+'),
                   t -> len(t) > 0)) AS tok
        FROM documents
    ), tf AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok GROUP BY 1, 2
    ), per AS (
        SELECT source,
               CAST(SUM(f) AS BIGINT)                         AS n_tokens,
               CAST(COUNT(*) AS BIGINT)                       AS vocab,
               CAST(COUNT(*) FILTER (WHERE f = 1) AS BIGINT)  AS n_hapax,
               CAST(COUNT(*) FILTER (WHERE f = 2) AS BIGINT)  AS n_dis
        FROM tf GROUP BY 1
    ), allf AS (
        SELECT tok, CAST(SUM(f) AS BIGINT) AS f FROM tf GROUP BY 1
    ), alla AS (
        SELECT 'ALL' AS source,
               CAST(SUM(f) AS BIGINT)                         AS n_tokens,
               CAST(COUNT(*) AS BIGINT)                       AS vocab,
               CAST(COUNT(*) FILTER (WHERE f = 1) AS BIGINT)  AS n_hapax,
               CAST(COUNT(*) FILTER (WHERE f = 2) AS BIGINT)  AS n_dis
        FROM allf
    )
    SELECT source, n_tokens, vocab, n_hapax, n_dis,
           CAST((n_hapax * 1000000000000) // n_tokens AS DOUBLE)
               / 1000000000000.0 AS p_unseen,
           CAST(vocab + (n_hapax * (n_hapax - 1)) // (2 * (n_dis + 1))
                AS BIGINT) AS chao1_richness
    FROM (SELECT * FROM per UNION ALL SELECT * FROM alla)
    WHERE n_tokens > 0
    ORDER BY source
    """,
    tags=("text", "good-turing", "vocabulary", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q254_unseen_mass_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-probability mass and Chao1 vocabulary-richness
    per source — the 'how much novel text is left to crawl' readout that
    sizes further collection next to q126's marginal-vocabulary and
    q227's Zipf diagnostics: Turing's estimator P(next token is unseen)
    = N1/N (the hapax share), and the bias-corrected Chao1 lower bound
    on TRUE vocabulary size, vocab + N1(N1−1)/(2(N2+1)) — a source whose
    estimated richness barely exceeds its observed vocab is mined out,
    one with a long hapax tail still has coverage to give. The ALL row
    re-aggregates the per-source term table to CORPUS-level frequencies
    (a token hapax in two sources is NOT a corpus hapax — pooling the
    stats would overcount), exactly as the oracle does.

    Exactness: everything is integer counts; the two derived statistics
    are non-negative integer floor divisions (p_unseen in 1e-12 fixed
    point, Chao1 floored to a BIGINT). Scale shape: one corpus scan into
    the checkpointed (source, token, f) term table (vocabulary-sized,
    unbounded — both the per-source rollup and the ALL re-aggregate read
    the checkpoint, never the corpus); map-side combines do the heavy
    lifting, no joins, no windows."""
    d = table(spark, sf_dir, "documents")
    tf = (
        spread_for_cpu(d)
        .select("source", F.explode(tokens_of("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("f"))
        .localCheckpoint(eager=True)  # per-source rollup + ALL re-aggregate
    )

    def rollup(frame: DataFrame, src) -> DataFrame:
        return frame.groupBy(src.alias("source")).agg(
            F.sum("f").alias("n_tokens"),
            F.count("*").alias("vocab"),
            F.count(F.when(F.col("f") == 1, 1)).alias("n_hapax"),
            F.count(F.when(F.col("f") == 2, 1)).alias("n_dis"),
        )

    per = rollup(tf, F.col("source"))
    alla = rollup(
        tf.groupBy("tok").agg(F.sum("f").alias("f")), F.lit("ALL")
    )
    return (
        per.unionByName(alla)
        .where(F.col("n_tokens") > 0)
        .select(
            "source",
            "n_tokens",
            "vocab",
            "n_hapax",
            "n_dis",
            (
                int_div(
                    F.col("n_hapax") * F.lit(1_000_000_000_000), F.col("n_tokens")
                ).cast("double")
                / F.lit(1e12)
            ).alias("p_unseen"),
            (
                F.col("vocab")
                + int_div(
                    F.col("n_hapax") * (F.col("n_hapax") - 1),
                    F.lit(2) * (F.col("n_dis") + 1),
                )
            ).cast("long").alias("chao1_richness"),
        )
        .orderBy("source")
    )


_MMR_ORACLE = f"""
    WITH RECURSIVE {_LEX_BASE_ORACLE}, scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
                      / CAST(2 * q.df + 1 AS DOUBLE))
                   * (CAST(22 * s.total * t.tf AS DOUBLE)
                      / CAST(10 * s.total * t.tf + 3 * s.total
                             + 9 * d.dl * s.n_docs AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM tf t JOIN qt q USING (term) JOIN dl d USING (doc_id), stats s
    ), cands0 AS (
        SELECT doc_id, CAST(SUM(term_fp) AS BIGINT) AS rel_fp
        FROM scored GROUP BY 1
        ORDER BY rel_fp DESC, doc_id LIMIT 20
    ), bounds AS (
        SELECT CAST(MAX(rel_fp) AS BIGINT) AS mx,
               CAST(MIN(rel_fp) AS BIGINT) AS mn
        FROM cands0
    ), cand AS (
        SELECT doc_id,
               CASE WHEN mx > mn
                    THEN (((rel_fp - mn) * 10000) // (mx - mn)) * 100000000
                    ELSE CAST(0 AS BIGINT) END AS relnorm_fp
        FROM cands0, bounds
    ), dt AS (
        SELECT DISTINCT tf.doc_id, term
        FROM tf JOIN cands0 USING (doc_id)
    ), sz AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM dt GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS i
        FROM dt a JOIN dt b ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a, b, (i * 1000000000000) // (sa.n + sb.n - i) AS sim_fp
        FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
    ), mmr AS (
        SELECT 0 AS r, CAST([] AS BIGINT[]) AS sel,
               CAST(NULL AS BIGINT) AS doc_id,
               CAST(NULL AS BIGINT) AS relnorm_fp,
               CAST(NULL AS BIGINT) AS maxsim_fp,
               CAST(NULL AS BIGINT) AS mmr_fp
        UNION ALL
        SELECT s.r + 1, list_append(s.sel, p.doc_id),
               p.doc_id, p.relnorm_fp, p.maxsim_fp, p.mmr_fp
        FROM mmr s, LATERAL (
            SELECT doc_id, relnorm_fp, maxsim_fp,
                   (relnorm_fp + 1000000000000 - maxsim_fp) // 2 AS mmr_fp
            FROM (
                SELECT c.doc_id, c.relnorm_fp,
                       COALESCE((SELECT MAX(pr.sim_fp) FROM pairs pr
                                 WHERE pr.a = c.doc_id
                                   AND list_contains(s.sel, pr.b)),
                                CAST(0 AS BIGINT)) AS maxsim_fp
                FROM cand c
                WHERE NOT list_contains(s.sel, c.doc_id)
            )
            ORDER BY mmr_fp DESC, doc_id LIMIT 1
        ) p
        WHERE s.r < 10
    )
    SELECT CAST(r AS BIGINT) AS rank, doc_id,
           CAST(relnorm_fp AS DOUBLE) / 1000000000000.0 AS rel_norm,
           CAST(maxsim_fp AS DOUBLE) / 1000000000000.0 AS max_sim_prior,
           CAST(mmr_fp AS DOUBLE) / 1000000000000.0 AS mmr_score
    FROM mmr WHERE r >= 1
    ORDER BY rank
    """


@query(
    "q256_mmr_diversified_topk",
    oracle=_MMR_ORACLE,
    tags=("text", "retrieval", "mmr", "diversity", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q256_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein) — the
    diversity rerank between retrieval and a RAG context window: from
    the BM25 top-20 (q191's scorer, same tf checkpoint), greedily pick
    10 docs maximizing λ·relevance − (1−λ)·max-similarity-to-picked at
    λ=1/2 — near-duplicate hits that BM25 ranks adjacently (and that
    would waste context tokens saying the same thing) are demoted in
    favor of novel coverage. Redundancy = exact Jaccard over the
    candidates' distinct-term sets (integer-only, no transcendental);
    relevance is min-max normalized to the same 1e-12 fixed-point scale
    so the MMR mix is a pure BIGINT expression.

    Scale shape: the corpus-sized work IS q191 (one tf-checkpoint scan +
    the posting join + TakeOrderedAndProject top-20); everything after
    is bounded by the CANDIDATE COUNT — the ≤20-row candidate frame,
    ≤20-doc term sets, ≤380-row pairwise Jaccard table (each
    checkpointed once), and the 10 greedy rounds folded into ONE job
    over the collected candidate/pair arrays (r14: the former per-round
    driver loop was pure scheduler latency on bounded frames; zero
    driver collects either way). The oracle replays the identical
    greedy recursion via q199's list-carrying LATERAL recursive CTE."""
    tf, dl, stats, qt = _lex_query_terms(spark, sf_dir)
    scored = _bm25_term_fp(tf.join(F.broadcast(qt), "term"), dl, stats)
    cands0 = (
        scored.groupBy("doc_id")
        .agg(F.sum("term_fp").alias("rel_fp"))
        .orderBy(F.col("rel_fp").desc(), "doc_id")
        .limit(20)
        .localCheckpoint(eager=True)  # bounds + relnorm + dt restriction
    )
    bounds = cands0.agg(F.max("rel_fp").alias("mx"), F.min("rel_fp").alias("mn"))
    cand = (
        cands0.crossJoin(F.broadcast(bounds))
        .where(
            exactness_guard(
                (F.col("mx") - F.col("mn")) < F.lit(922_337_203_685_477),
                "MMR: relevance span * 1e4 would overflow int64",
            )
        )
        .select(
            "doc_id",
            # normalize at 1e-4 precision then exact-scale to the 1e-12
            # grid: (rel-mn)*1e12 overflows int64 (BM25 fp sums ~ 1e14);
            # (rel-mn)*1e4 <= span*1e4 < 2^63 for any corpus whose idf
            # stays under ln(2N) ~ 60 (guarded)
            F.when(
                F.col("mx") > F.col("mn"),
                int_div(
                    (F.col("rel_fp") - F.col("mn")) * F.lit(10_000),
                    F.col("mx") - F.col("mn"),
                )
                * F.lit(100_000_000),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("relnorm_fp"),
        )
        .localCheckpoint(eager=True)  # read every greedy round
    )
    dt = (
        tf.join(F.broadcast(cands0.select("doc_id")), "doc_id")
        .select("doc_id", "term")
        .distinct()
        .localCheckpoint(eager=True)  # both Jaccard join sides
    )
    sz = dt.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = dt.select(F.col("doc_id").alias("a"), "term")
    b = dt.select(F.col("doc_id").alias("b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sz.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sz.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            int_div(
                F.col("i") * F.lit(1_000_000_000_000),
                F.col("na") + F.col("nb") - F.col("i"),
            ).alias("sim_fp"),
        )
        .localCheckpoint(eager=True)  # read every greedy round
    )
    # r14 optimization (guide §1.2): the greedy selection runs over
    # BOUNDED frames (≤20 candidates, ≤380 pairs), so the former 10
    # driver-looped rounds — each an anti-join + broadcast join + top-1 +
    # checkpoint job over ≤20-row frames — were pure scheduler latency at
    # ANY scale (11.6 s isolated on the r14 baseline, the slowest single
    # query). One interpreted fold over the collected candidate/pair
    # arrays replays the identical recursion: per round, maxsim(c) =
    # MAX sim_fp over pairs (a = c, b ∈ picked) with 0 when none (the
    # former left-join coalesce), mmr_fp = (relnorm + 1e12 − maxsim)
    # DIV 2, and the pick is array_max over struct(mmr_fp, −doc_id, …) —
    # mmr DESC then doc_id ASC via the q306 field-order tie-break
    # contract (extra struct fields never compared: the first two are
    # unique). All arithmetic stays exact BIGINT, order-independent.
    Carr = cand.agg(F.collect_list(F.struct("doc_id", "relnorm_fp")).alias("C"))
    Parr = pairs.agg(F.collect_list(F.struct("a", "b", "sim_fp")).alias("P"))
    zero = F.lit(0).cast("long")

    def _pick_round(acc, _r):
        picked = F.transform(acc, lambda s: s["doc_id"])
        remaining = F.filter(
            F.col("C"), lambda c: ~F.array_contains(picked, c["doc_id"])
        )
        with_ms = F.transform(
            remaining,
            lambda c: F.struct(
                c["doc_id"].alias("doc_id"),
                c["relnorm_fp"].alias("relnorm_fp"),
                F.aggregate(
                    F.col("P"),
                    zero,
                    lambda m, pr: F.when(
                        (pr["a"] == c["doc_id"]) & F.array_contains(picked, pr["b"]),
                        F.greatest(m, pr["sim_fp"]),
                    ).otherwise(m),
                ).alias("maxsim_fp"),
            ),
        )
        scored = F.transform(
            with_ms,
            lambda x: F.struct(
                int_div(
                    x["relnorm_fp"] + F.lit(1_000_000_000_000) - x["maxsim_fp"], 2
                ).alias("mmr_fp"),
                (-x["doc_id"]).alias("neg_doc"),
                x["relnorm_fp"].alias("relnorm_fp"),
                x["maxsim_fp"].alias("maxsim_fp"),
            ),
        )
        best = F.array_max(scored)
        return F.when(best.isNull(), acc).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        (F.size(acc) + 1).cast("long").alias("rank"),
                        (-best["neg_doc"]).alias("doc_id"),
                        best["relnorm_fp"].alias("relnorm_fp"),
                        best["maxsim_fp"].alias("maxsim_fp"),
                        best["mmr_fp"].alias("mmr_fp"),
                    )
                ),
            )
        )

    empty_sel = F.filter(
        F.array(
            F.struct(
                zero.alias("rank"),
                zero.alias("doc_id"),
                zero.alias("relnorm_fp"),
                zero.alias("maxsim_fp"),
                zero.alias("mmr_fp"),
            )
        ),
        lambda _x: F.lit(False),
    )
    sel = (
        Carr.crossJoin(F.broadcast(Parr))
        .select(
            F.explode(
                F.aggregate(F.sequence(F.lit(1), F.lit(10)), empty_sel, _pick_round)
            ).alias("s")
        )
        .select("s.rank", "s.doc_id", "s.relnorm_fp", "s.maxsim_fp", "s.mmr_fp")
        .localCheckpoint(eager=True)  # ≤10 rows; final plan reads only this
    )
    return sel.select(
        "rank",
        "doc_id",
        (F.col("relnorm_fp").cast("double") / F.lit(1e12)).alias("rel_norm"),
        (F.col("maxsim_fp").cast("double") / F.lit(1e12)).alias("max_sim_prior"),
        (F.col("mmr_fp").cast("double") / F.lit(1e12)).alias("mmr_score"),
    ).orderBy("rank")


@query(
    "q260_index_delete_refresh",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        GROUP BY 1, 2
    ), old AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df_old,
               CAST(SUM(tf) AS BIGINT) AS tf_old
        FROM tf GROUP BY 1
    ), survivors AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df_new,
               CAST(SUM(tf) AS BIGINT) AS tf_new
        FROM tf WHERE doc_id % 17 <> 0 GROUP BY 1
    )
    SELECT o.term, o.df_old, s.df_new, o.tf_old, s.tf_new
    FROM old o JOIN survivors s USING (term)
    ORDER BY s.df_new DESC, o.term
    LIMIT 20
    """,
    tags=("text", "retrieval", "index-maintenance", "deletion", "governance"),
    checkpointed_substrate=True,
)
def q260_index_delete_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION refresh of the lexical index — the decrement twin of
    q229's incremental ADD and the derived-artifact follow-through of
    q228's right-to-be-forgotten audit: when a deletion batch (doc_id %
    17 == 0, the deterministic stand-in for an erasure list) leaves the
    corpus, the per-term df/tf index must be updated WITHOUT a full
    rebuild. The Spark side SUBTRACTS the deleted docs' per-term partial
    from the standing index (df/tf are algebraic — decrement merge is
    exact; terms whose df hits 0 leave the vocabulary), while the
    ORACLE recomputes the index from the surviving corpus from scratch
    — hash equality proves the decrement lossless, q165/q229's
    invariant extended to deletes.

    Scale shape: both the standing index and the deletion partial
    derive from the SAME session tf checkpoint (zero extra corpus
    scans); the vocabulary-sized old⋈delta join stays pinned
    shuffle-merge (never broadcast — q103's OOM lesson); top-20 via
    TakeOrderedAndProject."""
    tf = doc_term_frequencies(spark, sf_dir)
    old = tf.groupBy("term").agg(
        F.count("*").alias("df_old"), F.sum("tf").alias("tf_old")
    )
    delta = (
        tf.where(F.col("doc_id") % 17 == 0)
        .groupBy("term")
        .agg(F.count("*").alias("df_del"), F.sum("tf").alias("tf_del"))
    )
    return (
        old.join(delta.hint("shuffle_merge"), "term", "left")
        .select(
            "term",
            "df_old",
            (
                F.col("df_old") - F.coalesce("df_del", F.lit(0).cast("long"))
            ).alias("df_new"),
            "tf_old",
            (
                F.col("tf_old") - F.coalesce("tf_del", F.lit(0).cast("long"))
            ).alias("tf_new"),
        )
        .where(F.col("df_new") > 0)
        .orderBy(F.col("df_new").desc(), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q265 — RAG chunking: overlapping token windows with stable fingerprints
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_S = 32, 24  # window / stride (8-token overlap)


@query(
    "q265_rag_token_chunking",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), meta AS (
        SELECT doc_id, t, len(t) AS n,
               (greatest(len(t) - {_CHUNK_W}, 0) + {_CHUNK_S - 1})
                   // {_CHUNK_S} + 1 AS n_chunks
        FROM toks
    ), ch AS (
        SELECT doc_id, t, n,
               unnest(generate_series(0, n_chunks - 1)) AS i
        FROM meta
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(least({_CHUNK_W}, n - i * {_CHUNK_S}) AS BIGINT) AS n_tok,
           substr(md5(array_to_string(
               t[i * {_CHUNK_S} + 1 :
                 i * {_CHUNK_S} + least({_CHUNK_W}, n - i * {_CHUNK_S})], ' ')),
               1, 12) AS fp12
    FROM ch ORDER BY doc_id, chunk_idx
    """,
    tags=("text", "rag", "chunking", "llm-pipeline"),
)
def q265_rag_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-index chunking — the step between a raw corpus and q53/q236's
    embedding index: split every document into overlapping token windows
    (32-token window, 24-token stride — the 8-token overlap keeps
    sentence fragments retrievable from either side of a boundary), with
    a STABLE per-chunk fingerprint (md5 of the joined window, q210's
    portable-digest recipe) so re-ingesting an unchanged document
    re-derives identical chunk ids — the idempotence an incremental
    embedding pipeline (q219's append path) keys on. Chunk count is the
    greedy cover ⌈max(n−W,0)/S⌉+1, so short documents yield exactly one
    chunk and every token is covered; the trailing chunk truncates to
    the document end (n_tok < W) rather than padding.

    Scale shape: pure per-row column expressions (tokenize once, ONE
    sequence+transform fold per document — not a per-chunk self-join),
    then posexplode; no joins, no windows, no shuffle at all before the
    final presentation sort. At 100 TB this streams at scan speed, which
    is exactly what a chunker feeding an embedding fleet must do."""
    toks = tokens_of(F.col("text"))
    n = F.size(toks)
    n_chunks = (
        int_div(F.greatest(n - _CHUNK_W, F.lit(0)) + F.lit(_CHUNK_S - 1), _CHUNK_S)
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.least(F.lit(_CHUNK_W), n - i * _CHUNK_S).cast("long").alias("n_tok"),
            F.substring(
                F.md5(
                    F.array_join(
                        F.slice(
                            toks,
                            i * _CHUNK_S + 1,
                            F.least(F.lit(_CHUNK_W), n - i * _CHUNK_S),
                        ),
                        " ",
                    )
                ),
                1,
                12,
            ).alias("fp12"),
        ),
    )
    d = table(spark, sf_dir, "documents")
    return (
        spread_for_cpu(d)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "ch"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("ch.n_tok").alias("n_tok"),
            F.col("ch.fp12").alias("fp12"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# q266 — inter-annotator agreement (Cohen's kappa) between two labelers
# ---------------------------------------------------------------------------


@query(
    "q266_cohens_kappa_labelers",
    oracle=rf"""
    WITH toks AS (
        SELECT source,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> len(t) > 0) AS t
        FROM documents
    ), lab AS (
        SELECT source,
               CASE WHEN len(t) >= 48 THEN 1 ELSE 0 END AS a,
               CASE WHEN 16 * len(list_filter(t,
                        x -> list_contains({list(_STOPWORDS)!r}, x)))
                         >= len(t) AND len(t) > 0
                    THEN 1 ELSE 0 END AS b
        FROM toks
    ), cm AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM lab GROUP BY 1
    ), k AS (
        SELECT source, n, n11, n10, n01, n00,
               (n11 + n00) AS po_num,
               (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num
        FROM cm
    )
    SELECT source, n, n11, n10, n01, n00,
           CAST(po_num AS DOUBLE) / CAST(n AS DOUBLE) AS po,
           CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
           CASE WHEN n * n - pe_num = 0 THEN 1.0
                ELSE CAST(n * po_num - pe_num AS DOUBLE)
                     / CAST(n * n - pe_num AS DOUBLE) END AS kappa
    FROM k ORDER BY source
    """,
    tags=("text", "annotation", "agreement", "statistics", "llm-pipeline"),
)
def q266_cohens_kappa_labelers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two heuristic labelers — the
    inter-annotator-agreement gate an RLHF/quality-labeling pipeline
    runs before trusting a rater pool (and the same arithmetic an
    LLM-judge-vs-human audit uses): labeler A keeps documents with ≥48
    tokens, labeler B keeps stopword-dense documents (16·hits ≥ tokens,
    i.e. ≥1/16 density — the r14 audit caught the original 1/4 threshold
    DEAD on this corpus: median stopword density is ~6%, so labeler B
    never fired, n11 = n01 = 0, and kappa was identically 0.0 at every
    SF while staying hash-green; the re-probed threshold gives kappa
    spread −0.44…+0.45 across sources and SFs —
    the q15-family quality heuristics as two INDEPENDENT binary raters),
    and kappa corrects their raw agreement for the agreement their
    marginals would produce by chance: κ = (N·(n11+n00) − Σ) / (N² − Σ)
    with Σ = a₁b₁ + a₀b₀. The confusion matrix and both kappa operands
    stay BIGINT; po/pe/kappa are each ONE IEEE division over exact
    integers, so both engines emit bit-identical doubles (N² ≤ 2^53 up
    to ~95M docs per source; past that the guard fails loudly).

    Scale shape: one scan, per-row label expressions, one map-side-
    combinable per-source aggregate — no joins, no windows."""
    toks = tokens_of(F.col("text"))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    lab = table(spark, sf_dir, "documents").select(
        "source",
        F.when(n_tok >= 48, 1).otherwise(0).alias("a"),
        F.when((F.lit(16) * n_stop >= n_tok) & (n_tok > 0), 1).otherwise(0).alias("b"),
    )
    cm = lab.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    po_num = F.col("n11") + F.col("n00")
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    nn = F.col("n") * F.col("n")
    return (
        cm.where(
            exactness_guard(
                nn.cast("double") < F.lit(float(EXACT_DOUBLE_BOUND)),
                "q266: N^2 exceeds the 2^53 exactness bound",
            )
        )
        .select(
            "source",
            "n",
            "n11",
            "n10",
            "n01",
            "n00",
            (po_num.cast("double") / F.col("n").cast("double")).alias("po"),
            (pe_num.cast("double") / nn.cast("double")).alias("pe"),
            F.when(nn - pe_num == 0, F.lit(1.0))
            .otherwise(
                (F.col("n") * po_num - pe_num).cast("double")
                / (nn - pe_num).cast("double")
            )
            .alias("kappa"),
        )
        .orderBy("source")
    )


# --- q274: inverted-index postings with varint delta encoding ---------------
#
# Docs per index segment: posting lists are built PER (term, shard) so no
# executor ever materializes a hot term's corpus-wide doc list — the
# Lucene-segment shape. 256 docs/shard keeps every per-group array bounded.
_POSTING_SHARD = 256


@query(
    "q274_postings_delta_index",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t AS term
        FROM documents,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> len(x) > 0)) AS u(t)
    ), post AS (
        SELECT DISTINCT doc_id, term FROM tok
    ), tf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS tf_total FROM tok GROUP BY term
    ), g AS (
        SELECT term, doc_id // {_POSTING_SHARD} AS shard, doc_id,
               doc_id - COALESCE(
                   lag(doc_id) OVER (PARTITION BY term, doc_id // {_POSTING_SHARD}
                                     ORDER BY doc_id),
                   (doc_id // {_POSTING_SHARD}) * {_POSTING_SHARD}) AS gap
        FROM post
    ), s AS (
        SELECT term, shard,
               CAST(COUNT(*) AS BIGINT) AS dfs,
               CAST(SUM(CASE WHEN gap < 128 THEN 1
                             WHEN gap < 16384 THEN 2
                             WHEN gap < 2097152 THEN 3
                             WHEN gap < 268435456 THEN 4
                             ELSE 5 END) AS BIGINT) AS bytes,
               md5(string_agg(CAST(gap AS VARCHAR), ',' ORDER BY doc_id)) AS fp
        FROM g GROUP BY term, shard
    )
    SELECT term,
           CAST(SUM(dfs) AS BIGINT)  AS df,
           ANY_VALUE(tf_total)       AS tf_total,
           CAST(COUNT(*) AS BIGINT)  AS n_shards,
           CAST(SUM(bytes) AS BIGINT) AS bytes_varint,
           CAST(SUM(bytes) AS DOUBLE) / CAST(8 * SUM(dfs) AS DOUBLE)
               AS vs_fixed64,
           md5(string_agg(fp, ',' ORDER BY shard)) AS postings_md5
    FROM s JOIN tf USING (term)
    GROUP BY term
    ORDER BY term
    """,
    tags=("text", "index", "postings", "compression", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q274_postings_delta_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction audit — per-term posting lists with
    VARINT DELTA encoding (the gap compression every search index uses),
    built the scale-safe way: postings are assembled PER (term, shard of
    {_POSTING_SHARD} docs) — the Lucene-segment shape — so a hot term
    never materializes a corpus-wide doc list in one task; shard lists
    are bounded arrays, gaps are taken against the previous in-shard doc
    (first entry offsets from the shard base, so every shard decodes
    independently), and the term-level content fingerprint folds shard
    fingerprints in shard order (q268's two-level trick — verifying one
    re-shipped segment needs only that segment's hash). Reports per term
    the document frequency, total term frequency, varint byte cost and
    the compression ratio against a fixed 8-byte-per-posting baseline.
    All arithmetic BIGINT; the ratio is one exact integer division."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens_of("text").alias("toks"))
        # tf and the posting build both read the tokenized corpus — one
        # text scan, materialized as (doc_id, tokens)
        .localCheckpoint(eager=True)
    )
    tok = d.select("doc_id", F.explode("toks").alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").alias("tf_total"))
    post = d.select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("term")
    ).withColumn("shard", F.expr(f"doc_id DIV {_POSTING_SHARD}L"))
    pershard = post.groupBy("term", "shard").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    base = F.col("shard") * F.lit(_POSTING_SHARD)
    gaps = F.transform(
        F.col("docs"),
        lambda x, i: x - F.coalesce(F.get(F.col("docs"), i - 1), base),
    )
    varint = lambda g: (  # noqa: E731
        F.when(g < 128, 1)
        .when(g < 16384, 2)
        .when(g < 2097152, 3)
        .when(g < 268435456, 4)
        .otherwise(5)
        .cast("long")
    )
    enc = pershard.select(
        "term",
        "shard",
        F.size("docs").cast("long").alias("dfs"),
        F.aggregate(
            gaps, F.lit(0).cast("long"), lambda acc, g: acc + varint(g)
        ).alias("bytes"),
        F.md5(F.concat_ws(",", gaps)).alias("fp"),
    )
    agg = enc.groupBy("term").agg(
        F.sum("dfs").alias("df"),
        F.count("*").alias("n_shards"),
        F.sum("bytes").alias("bytes_varint"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("shard", "fp"))),
                    lambda x: x["fp"],
                ),
            )
        ).alias("postings_md5"),
    )
    return (
        agg.join(tf, "term")
        .select(
            "term",
            "df",
            "tf_total",
            "n_shards",
            "bytes_varint",
            (
                F.col("bytes_varint").cast("double")
                / (F.lit(8) * F.col("df")).cast("double")
            ).alias("vs_fixed64"),
            "postings_md5",
        )
        .orderBy("term")
    )


# --- q275: WordPiece greedy longest-match tokenization ----------------------
#
# Subword vocab = top-100 character n-grams (len 1..4) of the documents
# corpus, weighted by token occurrences, ties to the lexicographically
# smaller gram; applied CROSS-DOMAIN to part-name words so the UNK path
# is real. Tokenization runs per DISTINCT word type (the standard trick:
# types ≪ corpus; counts re-weight afterwards), so the corpus-scale work
# is one token-count aggregate.
_WP_VOCAB = 100
_WP_GRAM_MAX = 4
_WP_WORD_MAX = 10  # generator vocab bound used for position enumeration
_WP_STEPS = 24  # fold iterations ≥ max word length


@query(
    "q275_wordpiece_greedy_tokenize",
    oracle=f"""
    WITH RECURSIVE docw AS (
        SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> len(x) > 0)) AS u(t)
        GROUP BY t
    ), cand AS (
        SELECT substr(d.word, p, l) AS gram, SUM(d.cnt) AS wt
        FROM docw d,
             generate_series(1, {_WP_WORD_MAX}) gs(p),
             generate_series(1, {_WP_GRAM_MAX}) ls(l)
        WHERE p + l - 1 <= len(d.word)
        GROUP BY 1
    ), vocab AS (
        SELECT gram FROM cand ORDER BY wt DESC, gram LIMIT {_WP_VOCAB}
    ), pwords AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS occurrences
        FROM part, unnest(string_split(lower(p_name), ' ')) AS u(w)
        GROUP BY w
    ), lmax AS (
        SELECT w.word AS word, gs.p AS pos,
               COALESCE(MAX(len(v.gram)), 0) AS L
        FROM pwords w
        JOIN generate_series(1, {_WP_WORD_MAX * 2}) gs(p) ON gs.p <= len(w.word)
        LEFT JOIN vocab v ON v.gram = substr(w.word, gs.p, len(v.gram))
        GROUP BY w.word, gs.p
    ), walk(wword, pos, n_tok, n_unk) AS (
        SELECT word, 1, 0, 0 FROM pwords
        UNION ALL
        SELECT wk.wword,
               wk.pos + CASE WHEN l.L > 0 THEN l.L ELSE 1 END,
               wk.n_tok + 1,
               wk.n_unk + CASE WHEN l.L > 0 THEN 0 ELSE 1 END
        FROM walk wk
        JOIN pwords pw ON pw.word = wk.wword
        JOIN lmax l ON l.word = wk.wword AND l.pos = wk.pos
        WHERE wk.pos <= len(pw.word)
    )
    SELECT wk.wword AS word, pw.occurrences,
           CAST(wk.n_tok AS BIGINT) AS n_tokens,
           CAST(wk.n_unk AS BIGINT) AS n_unk,
           CAST(len(wk.wword) AS BIGINT) AS n_chars
    FROM walk wk JOIN pwords pw ON pw.word = wk.wword
    WHERE wk.pos > len(wk.wword)
    ORDER BY word
    """,
    tags=("text", "tokenizer", "wordpiece", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q275_wordpiece_greedy_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style GREEDY LONGEST-MATCH tokenization — the other
    industry subword algorithm next to the BPE family (q106/q107/q116):
    a top-{_WP_VOCAB} character-n-gram vocab is derived from the
    documents corpus (occurrence-weighted, deterministic tie-break) and
    applied cross-domain to part-name words, so out-of-vocabulary UNK
    advances actually occur. Tokenization runs once per DISTINCT word
    type (types ≪ corpus — the trick every tokenizer pipeline uses) via
    a per-(word, position) longest-match table (ONE equi-join of the
    enumerated substring candidates against the broadcast vocab — no
    LIKE theta join) folded into a single array-accumulator walk
    (one HOF fold, not sibling transforms, per the interpreted-lambda
    rule). The DuckDB oracle replays the identical walk as a recursive
    CTE. Reports per word: occurrences, token count, UNK count, chars."""
    d = table(spark, sf_dir, "documents")
    docw = (
        d.select(F.explode(tokens_of("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    pl = docw.select(
        "word",
        "cnt",
        F.explode(F.sequence(F.lit(1), F.lit(_WP_WORD_MAX))).alias("p"),
    ).where(F.col("p") <= F.length("word"))
    cand = (
        pl.select(
            "word",
            "cnt",
            "p",
            F.explode(F.sequence(F.lit(1), F.lit(_WP_GRAM_MAX))).alias("l"),
        )
        .where(F.col("p") + F.col("l") - 1 <= F.length("word"))
        .select(F.expr("substr(word, p, l)").alias("gram"), "cnt")
        .groupBy("gram")
        .agg(F.sum("cnt").alias("wt"))
    )
    vocab = cand.orderBy(F.col("wt").desc(), "gram").limit(_WP_VOCAB).select("gram")
    p = table(spark, sf_dir, "part")
    pwords = (
        p.select(F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("occurrences"))
        # the walk enumerates _WP_WORD_MAX*2 positions and folds _WP_STEPS
        # times — a longer word would silently vanish from the recursive
        # oracle while Spark emits a truncated row, so fail LOUDLY instead
        .where(
            exactness_guard(
                F.length("word") <= min(_WP_WORD_MAX * 2, _WP_STEPS),
                "q275: word exceeds the enumerated position/step bounds",
            )
        )
        .localCheckpoint(eager=True)  # bounded word-type frame, read twice
    )
    tries = (
        pwords.select(
            "word",
            F.explode(F.sequence(F.lit(1), F.lit(_WP_WORD_MAX * 2))).alias("pos"),
        )
        .where(F.col("pos") <= F.length("word"))
        .select(
            "word",
            "pos",
            F.explode(F.sequence(F.lit(1), F.lit(_WP_GRAM_MAX))).alias("l"),
        )
        .where(F.col("pos") + F.col("l") - 1 <= F.length("word"))
        .withColumn("gram_try", F.expr("substr(word, pos, l)"))
    )
    lmax = (
        tries.join(
            F.broadcast(vocab), tries["gram_try"] == vocab["gram"], "left"
        )
        .groupBy("word", "pos")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("gram").isNotNull(), F.col("l"))), F.lit(0)
            ).alias("L")
        )
    )
    larr = lmax.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "L"))), lambda x: x["L"]
        ).alias("Larr")
    )
    acc0 = F.struct(
        F.lit(1).alias("pos"), F.lit(0).alias("n_tok"), F.lit(0).alias("n_unk")
    )

    def step(acc, _):
        ln = F.length(F.col("word"))
        L = F.coalesce(F.element_at(F.col("Larr"), acc["pos"]), F.lit(0))
        return F.when(acc["pos"] > ln, acc).otherwise(
            F.struct(
                (acc["pos"] + F.greatest(L, F.lit(1))).alias("pos"),
                (acc["n_tok"] + 1).alias("n_tok"),
                (acc["n_unk"] + F.when(L == 0, 1).otherwise(0)).alias("n_unk"),
            )
        )

    walked = larr.select(
        "word",
        F.aggregate(F.sequence(F.lit(1), F.lit(_WP_STEPS)), acc0, step).alias("fin"),
    )
    return (
        walked.join(pwords, "word")
        .select(
            "word",
            "occurrences",
            F.col("fin.n_tok").cast("long").alias("n_tokens"),
            F.col("fin.n_unk").cast("long").alias("n_unk"),
            F.length("word").cast("long").alias("n_chars"),
        )
        .orderBy("word")
    )


# --- q278: feature-hashing collision audit ----------------------------------
#
# Hashing-trick bucket count. Bigram types (~1e3 on this vocab) into 256
# buckets makes collisions real and measurable; the md5-slice bucket is
# the engine-portable pseudo-hash (q121/q37 recipe).
_FEATHASH_BUCKETS = 256


@query(
    "q278_feature_hash_collisions",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> len(x) > 0) AS toks
        FROM documents
    ), bg AS (
        SELECT toks[i] || '_' || toks[i + 1] AS bigram
        FROM tok, unnest(generate_series(1, len(toks) - 1)) AS u(i)
    ), tf AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS tf
        FROM bg GROUP BY bigram
    ), bucketed AS (
        SELECT CAST('0x' || substr(md5(bigram), 1, 4) AS BIGINT)
                   % {_FEATHASH_BUCKETS} AS bucket,
               bigram, tf
        FROM tf
    ), per AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               CAST(MAX(tf) AS BIGINT) AS dominant_tf
        FROM bucketed GROUP BY bucket
    )
    SELECT bucket, n_types, total_tf, dominant_tf,
           CAST(total_tf - dominant_tf AS DOUBLE) / CAST(total_tf AS DOUBLE)
               AS collision_share
    FROM per
    ORDER BY bucket
    """,
    tags=("text", "feature-hashing", "collisions", "llm-pipeline"),
)
def q278_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit — before shipping a fixed-width
    feature vector (the Vowpal-Wabbit / sklearn HashingVectorizer
    representation), measure what the hash width destroys: token BIGRAM
    types are hashed into {_FEATHASH_BUCKETS} buckets via the
    engine-portable md5-slice (q121's recipe — reproducible across
    engines, retries and re-plans, unlike murmur-based engine hashes)
    and each bucket reports its colliding type count, total mass, the
    dominant type's mass, and the collision share (the mass a linear
    model can no longer attribute). Scale shape: one corpus scan into a
    map-side-combinable bigram-type aggregate (types ≪ tokens), then a
    bounded {_FEATHASH_BUCKETS}-row rollup — no joins, no windows."""
    d = table(spark, sf_dir, "documents").select(tokens_of("text").alias("toks"))
    bg = d.select(
        F.explode(
            F.transform(
                F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda x, i: F.concat_ws(
                    "_", x, F.get(F.col("toks"), i + 1)
                ),
            )
        ).alias("bigram")
    )
    tf = bg.groupBy("bigram").agg(F.count("*").alias("tf"))
    bucketed = tf.select(
        (
            F.conv(F.substring(F.md5(F.col("bigram")), 1, 4), 16, 10).cast("long")
            % _FEATHASH_BUCKETS
        ).alias("bucket"),
        "tf",
    )
    per = bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_types"),
        F.sum("tf").alias("total_tf"),
        F.max("tf").alias("dominant_tf"),
    )
    return per.select(
        "bucket",
        "n_types",
        "total_tf",
        "dominant_tf",
        (
            (F.col("total_tf") - F.col("dominant_tf")).cast("double")
            / F.col("total_tf").cast("double")
        ).alias("collision_share"),
    ).orderBy("bucket")


# --- q292: retrieval evaluation metrics (nDCG@10 / MRR / P@10) --------------
#
# DCG discounts 1/log2(rank+1) for ranks 1..10 and their cumulative
# sums, precomputed in Python and emitted as identical decimal literals
# to BOTH engines — no runtime log2 anywhere near the hash.
_IR_K = 10
_IR_QUERIES = 10
_IR_LEN_BUCKET = 64
_IR_DISC = (
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306, 0.38685280723454163,
    0.3562071871080222, 0.3333333333333333, 0.31546487678572877,
    0.3010299956639812, 0.2890648263178879,
)
_IR_CUM = (
    0.0, 1.0, 1.6309297535714575, 2.1309297535714578, 2.5616063116448506,
    2.9484591188793923, 3.3046663059874146, 3.637999639320748,
    3.953464516106477, 4.254494511770458, 4.543559338088346,
)


def _ir_sql_list(vals) -> str:
    return ", ".join(repr(v) for v in vals)


@query(
    "q292_retrieval_metrics_report",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, n_chars // {_IR_LEN_BUCKET} AS lb,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> len(x) > 0) AS toks
        FROM documents
    ), tf AS (
        SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM d, unnest(toks) AS u(t) GROUP BY doc_id, t
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    idf AS (
        SELECT term,
               CAST(ROUND(LN(CAST(n.n + 1 AS DOUBLE)
                             / CAST(COUNT(*) + 1 AS DOUBLE))
                          * 1000000000000) AS BIGINT) AS idf_fp
        FROM tf, n GROUP BY term, n.n
    ), q AS (
        SELECT doc_id AS qid, source AS qsrc, lb AS qlb,
               list_distinct(toks[1:3]) AS qterms
        FROM d ORDER BY doc_id LIMIT {_IR_QUERIES}
    ), qt AS (
        SELECT qid, t AS term FROM q, unnest(qterms) AS u(t)
    ), scores AS (
        SELECT qt.qid, tf.doc_id,
               CAST(SUM(tf.tf * idf.idf_fp) AS BIGINT) AS score
        FROM qt JOIN tf USING (term) JOIN idf USING (term)
        GROUP BY qt.qid, tf.doc_id
    ), ranked AS (
        SELECT s.qid, s.doc_id,
               row_number() OVER (PARTITION BY s.qid
                                  ORDER BY s.score DESC, s.doc_id) AS rank
        FROM scores s JOIN q ON q.qid = s.qid
        WHERE s.doc_id <> s.qid
    ), top AS (
        SELECT r.qid, r.rank,
               CASE WHEN cd.source = q.qsrc AND cd.lb = q.qlb THEN 2
                    WHEN cd.source = q.qsrc THEN 1 ELSE 0 END AS rel
        FROM ranked r
        JOIN d cd ON cd.doc_id = r.doc_id
        JOIN q ON q.qid = r.qid
        WHERE r.rank <= {_IR_K}
    ), discs(rank, disc) AS (
        SELECT * FROM (VALUES {", ".join(f"({i + 1}, CAST({v!r} AS DOUBLE))" for i, v in enumerate(_IR_DISC))})
    ), perq AS (
        SELECT t.qid,
               SUM((CASE t.rel WHEN 2 THEN CAST(3.0 AS DOUBLE)
                    WHEN 1 THEN CAST(1.0 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END) * ds.disc) AS dcg,
               CAST(SUM(CASE WHEN t.rel >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel_at_k,
               MIN(CASE WHEN t.rel >= 1 THEN t.rank END) AS first_rel
        FROM top t JOIN discs ds ON ds.rank = t.rank
        GROUP BY t.qid
    ), pool AS (
        SELECT q.qid,
               CAST(SUM(CASE WHEN cd.source = q.qsrc AND cd.lb = q.qlb
                             THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN cd.source = q.qsrc AND cd.lb <> q.qlb
                             THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM q JOIN d cd ON cd.doc_id <> q.qid
        GROUP BY q.qid
    ), cums(i, cum) AS (
        SELECT * FROM (VALUES {", ".join(f"({i}, CAST({v!r} AS DOUBLE))" for i, v in enumerate(_IR_CUM))})
    )
    SELECT p.qid AS query_doc, pool.n2 AS pool_rel2, pool.n1 AS pool_rel1,
           p.n_rel_at_k,
           CAST(p.n_rel_at_k AS DOUBLE) / CAST({_IR_K} AS DOUBLE) AS p_at_k,
           COALESCE(CAST(1.0 AS DOUBLE) / CAST(p.first_rel AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rr,
           p.dcg,
           CASE WHEN pool.n2 + pool.n1 > 0
                THEN p.dcg / (CAST(3.0 AS DOUBLE) * c2.cum
                              + (c12.cum - c2.cum))
                ELSE CAST(0.0 AS DOUBLE) END AS ndcg
    FROM perq p
    JOIN pool ON pool.qid = p.qid
    JOIN cums c2 ON c2.i = LEAST(pool.n2, {_IR_K})
    JOIN cums c12 ON c12.i = LEAST(pool.n2 + pool.n1, {_IR_K})
    ORDER BY query_doc
    """,
    tags=("text", "retrieval", "evaluation", "ndcg", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q292_retrieval_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR EVALUATION metrics — the report that closes the retrieval
    family's loop (q191/q237 rank, q245/q256/q197 refine, q284 measures
    ANN recall; this measures RANKING QUALITY): for {_IR_QUERIES} fixed
    known-item queries (a doc's first three tokens), the tf·idf ranking
    over the corpus is scored with graded relevance (2 = same source
    AND same length bucket, 1 = same source) as nDCG@{_IR_K}, MRR and
    P@{_IR_K}. The DCG discounts and their cumulative sums are Python
    PRECOMPUTED decimal literals fed identically to both engines, and
    the idf weights round ONCE to 1e-12 fixed point so the per-doc
    score is an ORDER-INDEPENDENT integer sum (a float Σtf·idf flipped
    a rank-1/2 tie between engines on a last-ulp summation difference —
    measured, then fixed); the ideal DCG is closed-form from the pool
    counts (first min(n2,k) slots gain 3, the next gain 1), so no ideal
    re-ranking pass exists. Per-query top-{_IR_K} uses the chunked
    two-level rank — never a corpus-wide single-partition window."""
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.expr(f"n_chars DIV {_IR_LEN_BUCKET}L").alias("lb"),
            tokens_of("text").alias("toks"),
        )
        .localCheckpoint(eager=True)  # tf, queries, grades, pool share it
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # scored once; idf + scores read it
    )
    n = d.agg(F.count("*").alias("n"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            F.round(
                F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                * F.lit(1_000_000_000_000.0)
            )
            .cast("long")
            .alias("idf_fp"),
        )
    )
    q = (
        d.orderBy("doc_id")
        .limit(_IR_QUERIES)
        .select(
            F.col("doc_id").alias("qid"),
            F.col("source").alias("qsrc"),
            F.col("lb").alias("qlb"),
            F.array_distinct(F.slice("toks", 1, 3)).alias("qterms"),
        )
        .localCheckpoint(eager=True)  # bounded query frame, read 4x
    )
    qt = q.select("qid", F.explode("qterms").alias("term"))
    scores = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(idf), "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf_fp")).alias("score"))
        .where(F.col("doc_id") != F.col("qid"))
    )
    from pyspark.sql import Window

    chunk = F.pmod(F.col("doc_id"), F.lit(32)).alias("chunk")
    w1 = Window.partitionBy("qid", "chunk").orderBy(F.col("score").desc(), "doc_id")
    w2 = Window.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id")
    ranked = (
        scores.select("qid", "doc_id", "score", chunk)
        .withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= _IR_K)  # bounded: 32 x k per query
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= _IR_K)
    )
    disc_arr = F.array(*[F.lit(v) for v in _IR_DISC])
    cum_arr = F.array(*[F.lit(v) for v in _IR_CUM])
    top = (
        ranked.join(
            F.broadcast(d.select("doc_id", "source", "lb")), "doc_id"
        )
        .join(F.broadcast(q.select("qid", "qsrc", "qlb")), "qid")
        .select(
            "qid",
            "rank",
            F.when(
                (F.col("source") == F.col("qsrc")) & (F.col("lb") == F.col("qlb")), 2
            )
            .when(F.col("source") == F.col("qsrc"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    perq = top.groupBy("qid").agg(
        F.sum(
            F.when(F.col("rel") == 2, F.lit(3.0))
            .when(F.col("rel") == 1, F.lit(1.0))
            .otherwise(F.lit(0.0))
            * F.element_at(disc_arr, F.col("rank"))
        ).alias("dcg"),
        F.sum(F.when(F.col("rel") >= 1, 1).otherwise(0)).alias("n_rel_at_k"),
        F.min(F.when(F.col("rel") >= 1, F.col("rank"))).alias("first_rel"),
    )
    pool = (
        q.join(F.broadcast(d.select("doc_id", "source", "lb")), F.col("doc_id") != F.col("qid"))
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(
                    (F.col("source") == F.col("qsrc"))
                    & (F.col("lb") == F.col("qlb")),
                    1,
                ).otherwise(0)
            ).alias("n2"),
            F.sum(
                F.when(
                    (F.col("source") == F.col("qsrc"))
                    & (F.col("lb") != F.col("qlb")),
                    1,
                ).otherwise(0)
            ).alias("n1"),
        )
    )
    idcg = F.lit(3.0) * F.element_at(
        cum_arr, F.least(F.col("n2"), F.lit(_IR_K)).cast("int") + 1
    ) + F.lit(1.0) * (
        F.element_at(
            cum_arr,
            F.least(F.col("n2") + F.col("n1"), F.lit(_IR_K)).cast("int") + 1,
        )
        - F.element_at(cum_arr, F.least(F.col("n2"), F.lit(_IR_K)).cast("int") + 1)
    )
    return (
        perq.join(F.broadcast(pool), "qid")
        .select(
            F.col("qid").alias("query_doc"),
            F.col("n2").alias("pool_rel2"),
            F.col("n1").alias("pool_rel1"),
            "n_rel_at_k",
            (F.col("n_rel_at_k").cast("double") / F.lit(float(_IR_K))).alias("p_at_k"),
            F.coalesce(
                F.lit(1.0) / F.col("first_rel").cast("double"), F.lit(0.0)
            ).alias("rr"),
            "dcg",
            # integer guard on the empty-pool edge (n2=n1=0 ⇒ idcg=0):
            # Spark would emit NaN for 0.0/0.0 while DuckDB's
            # division-by-zero differs — both sides CASE on the pool size
            F.when(F.col("n2") + F.col("n1") > 0, F.col("dcg") / idcg)
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
        )
        .orderBy("query_doc")
    )


# --- q293: vocabulary growth (Heaps'-law) curve ------------------------------

_HEAPS_DECILES = 10


@query(
    "q293_vocab_growth_curve",
    oracle=f"""
    WITH bounds AS (
        SELECT MAX(doc_id) + 1 AS n_docs FROM documents
    ), tok AS (
        SELECT doc_id, t AS term
        FROM documents,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> len(x) > 0)) AS u(t)
    ), firsts AS (
        SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY term
    ), tokens_per_decile AS (
        SELECT CAST(doc_id * {_HEAPS_DECILES} // n_docs AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM tok, bounds GROUP BY 1
    ), new_terms AS (
        SELECT CAST(first_doc * {_HEAPS_DECILES} // n_docs AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS new_terms
        FROM firsts, bounds GROUP BY 1
    )
    SELECT t.decile AS decile,
           t.n_tokens,
           CAST(SUM(t.n_tokens) OVER (ORDER BY t.decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           COALESCE(n.new_terms, 0) AS new_terms,
           CAST(SUM(COALESCE(n.new_terms, 0)) OVER (ORDER BY t.decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
    FROM tokens_per_decile t LEFT JOIN new_terms n ON n.decile = t.decile
    ORDER BY decile
    """,
    tags=("text", "vocabulary", "heaps-law", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q293_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY GROWTH curve (Heaps' law V(n) ≈ K·n^β) — the
    measurement that sizes a tokenizer vocab and predicts how many new
    types the next data tranche brings (next to q118 n-gram novelty and
    q227's Zipf slope): the corpus is cut into ingestion deciles (by
    doc id — the arrival order), each reporting its token count and the
    number of NEVER-BEFORE-SEEN terms (a term's first occurrence is its
    min doc id — one map-side-combinable aggregate, no ordered scan of
    the corpus), plus cumulative tokens and the running vocabulary
    size. A flattening curve says the vocab is saturating; a straight
    line on the log-log pairs says more data keeps paying. The decile
    windows run over the 10-row frame only; everything corpus-scale is
    two aggregates."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens_of("text").alias("toks"))
        .localCheckpoint(eager=True)  # one text scan; bounds + both aggs share
    )
    bounds = d.agg((F.max("doc_id") + 1).alias("n_docs"))
    tok = d.select("doc_id", F.explode("toks").alias("term"))
    firsts = tok.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    tpd = (
        tok.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(f"doc_id * {_HEAPS_DECILES} DIV n_docs").alias("decile")
        )
        .agg(F.count("*").alias("n_tokens"))
    )
    nt = (
        firsts.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr(f"first_doc * {_HEAPS_DECILES} DIV n_docs").alias("decile")
        )
        .agg(F.count("*").alias("new_terms"))
    )
    from pyspark.sql import Window

    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tpd.join(F.broadcast(nt), "decile", "left")
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_tokens",
            F.sum("n_tokens").over(wc).cast("long").alias("cum_tokens"),
            F.coalesce("new_terms", F.lit(0).cast("long")).alias("new_terms"),
        )
        .withColumn(
            "vocab_size", F.sum("new_terms").over(wc).cast("long")
        )
        .orderBy("decile")
    )


# --- q298: rank-biased overlap between lexical rankers -----------------------

_RBO_P = 0.9
_RBO_K = 50
#: (1-p)·p^(d-1)/d at 1e-15 fixed point, d = 1.._RBO_K — Python-precomputed
#: decimal literals fed to BOTH engines (the q292 discount-array pattern),
#: so no runtime transcendental ever runs near the hash.
_RBO_W_FP = [
    round((1.0 - _RBO_P) * _RBO_P ** (d - 1) / d * 1e15) for d in range(1, _RBO_K + 1)
]

#: q298's OWN fixed query — one rare discriminative term plus two
#: ubiquitous ones.  The shared df-DESC picker selects only terms present
#: in ~77% of the synthetic docs, and under the original Robertson IDF
#: (negative for df > N/2) BM25 ranked low-tf long docs first while QLD
#: (mu=2000 >> dl) ranks short docs first — the two top-50s were provably
#: DISJOINT at every SF: RBO was identically zero, hash-green, machinery
#: never exercised (the r14 constant-column audit's catch).  Mixing 'dup'
#: (df ~5%) with two common terms makes the disagreement partial; after
#: the family-wide Lucene idf clamp (same r14, see _bm25_idf) RBO is
#: 0.70/0.50/0.33 at sf0.001/0.01/0.1 with depth-varying overlap.
_RBO_QUERY_TERMS = ("customer", "dup", "filter")

_LEX_BASE_ORACLE_RBO = _LEX_BASE_ORACLE.replace(
    """qt AS (
        SELECT term, df FROM dfq WHERE len(term) >= 6
        ORDER BY df DESC, term LIMIT 3
    )""",
    f"""qt AS (
        SELECT term, df FROM dfq
        WHERE term IN ({", ".join(f"'{t}'" for t in _RBO_QUERY_TERMS)})
    )""",
)
if _LEX_BASE_ORACLE_RBO == _LEX_BASE_ORACLE:  # pragma: no cover
    raise RuntimeError("q298 qt override failed to apply — picker text moved")


@query(
    "q298_rank_biased_overlap",
    oracle=f"""
    WITH {_LEX_BASE_ORACLE_RBO}, bm_scored AS (
        SELECT t.doc_id,
               CAST(ROUND(
                   ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
                      / CAST(2 * q.df + 1 AS DOUBLE))
                   * (CAST(22 * s.total * t.tf AS DOUBLE)
                      / CAST(10 * s.total * t.tf + 3 * s.total
                             + 9 * d.dl * s.n_docs AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM tf t JOIN qt q USING (term) JOIN dl d USING (doc_id), stats s
    ), bm AS (
        SELECT doc_id,
               CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS score
        FROM bm_scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {_RBO_K}
    ), bm_rank AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS r
        FROM bm
    ), cf AS (
        SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
    ), qtc AS (
        SELECT qt.term, cf.cf FROM qt JOIN cf USING (term)
    ), grid AS (
        SELECT dl.doc_id, dl.dl, qtc.term, qtc.cf, s.total
        FROM dl CROSS JOIN qtc, stats s
    ), ql_scored AS (
        SELECT g.doc_id,
               CAST(ROUND(
                   ln(CAST(COALESCE(t.tf, 0) * g.total + 2000 * g.cf
                           AS DOUBLE)
                      / CAST((g.dl + 2000) * g.total AS DOUBLE))
                   * 1000000000000) AS BIGINT) AS term_fp
        FROM grid g
        LEFT JOIN tf t ON t.doc_id = g.doc_id AND t.term = g.term
    ), ql AS (
        SELECT doc_id,
               CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS score
        FROM ql_scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {_RBO_K}
    ), ql_rank AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS r
        FROM ql
    ), shared AS (
        SELECT GREATEST(b.r, q.r) AS m
        FROM bm_rank b JOIN ql_rank q USING (doc_id)
    ), depths(d, w_fp) AS (
        SELECT * FROM (VALUES {", ".join(f"({d}, CAST({w} AS BIGINT))" for d, w in zip(range(1, _RBO_K + 1), _RBO_W_FP))})
    ), ov AS (
        SELECT dp.d, dp.w_fp, CAST(COUNT(s.m) AS BIGINT) AS overlap
        FROM depths dp LEFT JOIN shared s ON s.m <= dp.d
        GROUP BY dp.d, dp.w_fp
    )
    SELECT d AS depth, overlap,
           CAST(overlap AS DOUBLE) / CAST(d AS DOUBLE) AS agreement,
           CAST(w_fp * overlap AS DOUBLE) / 1000000000000000.0 AS term,
           CAST(CAST(SUM(w_fp * overlap)
                     OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS DOUBLE)
               / 1000000000000000.0 AS rbo_cum
    FROM ov
    ORDER BY depth
    """,
    tags=("text", "retrieval", "evaluation", "rbo", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q298_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP (Webber et al.) between the BM25 (q191) and
    QLD (q196) rankings — the ranking-AGREEMENT metric completing the
    eval family (q292 measures quality vs relevance; RBO measures how
    much two rankers agree, top-weighted so rank-1 disagreement costs
    more than rank-50): RBO@{_RBO_K} = (1-p)·Σ_d p^(d-1)·|A_d ∩ B_d|/d
    with persistence p = {_RBO_P}. The weights are Python-precomputed
    1e-15 fixed-point literals fed to both engines (q292's
    discount-array pattern), overlaps are exact integers (a shared doc
    enters the intersection at depth max(r_A, r_B)), and the cumulative
    RBO is a BIGINT prefix sum — order-independent, no runtime
    transcendental near the hash.

    r14: the rankers score q298's OWN fixed query (_RBO_QUERY_TERMS —
    one rare + two ubiquitous terms) instead of the shared df-DESC
    picker, whose all-ubiquitous terms (under the original Robertson
    IDF) made the two top-50s provably disjoint — RBO identically 0 at
    every SF, dead machinery, caught by the r14 audit; details on the
    constant and _bm25_idf.

    Scale shape: both rankings reuse the ONE cached tf substrate (the
    whole retrieval family's single corpus scan) and reduce via
    top-{_RBO_K} (TakeOrdered); everything after — the rank join, entry
    depths, the depth×shared inequality join, prefix sum — runs on
    ≤{_RBO_K}-row bounded frames (single-partition windows legal
    here)."""
    from pyspark.sql import Window

    def ranked(scores: DataFrame) -> DataFrame:
        top = scores.orderBy(F.col("score").desc(), "doc_id").limit(_RBO_K)
        w = Window.orderBy(F.col("score").desc(), "doc_id")  # bounded rows
        return top.select(
            "doc_id", F.row_number().over(w).cast("long").alias("r")
        )

    bm = ranked(_bm25_doc_scores(spark, sf_dir, _RBO_QUERY_TERMS))
    ql = ranked(_qld_doc_scores(spark, sf_dir, _RBO_QUERY_TERMS)).withColumnRenamed(
        "r", "rq"
    )
    shared = bm.join(ql, "doc_id").select(
        F.greatest(F.col("r"), F.col("rq")).alias("m")
    )
    warr = F.array(*[F.lit(w) for w in _RBO_W_FP])
    depths = spark.range(1, _RBO_K + 1).select(
        F.col("id").alias("d"), F.element_at(warr, F.col("id").cast("int")).alias("w_fp")
    )
    ov = (
        depths.join(F.broadcast(shared), F.col("m") <= F.col("d"), "left")
        .groupBy("d", "w_fp")
        .agg(F.count("m").alias("overlap"))
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ov.select(
            F.col("d").alias("depth"),
            "overlap",
            (F.col("overlap").cast("double") / F.col("d").cast("double")).alias(
                "agreement"
            ),
            ((F.col("w_fp") * F.col("overlap")).cast("double") / F.lit(1e15)).alias(
                "term"
            ),
            (
                F.sum(F.col("w_fp") * F.col("overlap")).over(wcum).cast("double")
                / F.lit(1e15)
            ).alias("rbo_cum"),
        )
        .orderBy("depth")
    )


# ---------------------------------------------------------------------------
# q307 — trained char-n-gram Naive-Bayes language ID (CCNet-style)
# ---------------------------------------------------------------------------


def char3_boundary_grams(text: Column | str) -> Column:
    """Boundary-marked character 3-grams WITH multiplicity — fasttext's
    subword unit: each whitespace token is padded to ``_token_`` and all
    inclusive 3-char windows are emitted (a 1-char token still yields one
    gram, ``_x_``). One nested transform per row (outer over tokens,
    inner over positions) — a single interpreted-lambda pass, never N
    sibling transforms."""
    return F.flatten(
        F.transform(
            tokens_of(text),
            lambda w: F.transform(
                F.sequence(F.lit(1), F.length(w) + 2 - 2),
                lambda i: F.substring(
                    F.concat(F.lit("_"), w, F.lit("_")), i, 3
                ),
            ),
        )
    )


def nb_charngram_confusion(docs: DataFrame) -> DataFrame:
    """Core of q307, factored so the known-truth unit test can run it on
    planted documents: train a multinomial Naive-Bayes classifier on
    boundary-marked char-3-grams of the ``doc_id % 5 != 0`` split, score
    the held-out ``doc_id % 5 == 0`` split, return the confusion matrix.

    Determinism (the q258/q292 fixed-point discipline): every log is
    computed from EXACT BIGINT counts via one IEEE division then ``ln``,
    rounded ONCE to a 1e-9 fixed-point BIGINT in the bounded class/weight
    tables; per-document scores are then pure BIGINT Σ c·w sums —
    order-independent, so Spark's partial aggregation and DuckDB's
    sequential sum agree bit-for-bit. Argmax tie-break: score DESC, class
    ASC via row_number. Overflow: |w_fp| ≤ |ln(1/(tot+V))|·1e9 < 4.2e10,
    and an exactness_guard pins Σc per (doc, class) ≤ 1e8, so
    |score| < 4.2e18 < 2^63.

    Scale shape: ONE corpus pass builds the per-(doc, gram) count table
    (checkpointed — four consumers would otherwise rescan the corpus);
    the gram-weight table is vocabulary-keyed and joins the test grams
    via sort-merge (never broadcast: web-scale gram vocabularies are
    unbounded — the q103 lesson); the only broadcasts are the 5-row
    class-stats frame and 1-row totals."""
    d = spread_for_cpu(docs)
    dg = (
        d.select("doc_id", "lang", F.explode(char3_boundary_grams("text")).alias("g"))
        .groupBy("doc_id", "lang", "g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)  # one corpus aggregate, four readers
    )
    train = dg.where(F.col("doc_id") % 5 != 0)
    test = dg.where(F.col("doc_id") % 5 == 0)
    cnt = (
        train.groupBy(F.col("lang").alias("lc"), "g")
        .agg(F.sum("c").cast("long").alias("c"))
        .localCheckpoint(eager=True)  # vocab×classes; weights + totals read it
    )
    vs = cnt.agg(F.count_distinct("g").cast("long").alias("v"))
    cls = cnt.groupBy("lc").agg(F.sum("c").cast("long").alias("tot"))
    nd = train.groupBy(F.col("lang").alias("lc")).agg(
        F.count_distinct("doc_id").cast("long").alias("ndc")
    )
    ndtot = nd.agg(F.sum("ndc").cast("long").alias("nd_all"))
    fp = F.lit(1_000_000_000)
    cstats = (
        cls.join(nd, "lc")
        .crossJoin(F.broadcast(vs))
        .crossJoin(F.broadcast(ndtot))
        .select(
            "lc",
            F.round(
                F.log(F.lit(1.0) / (F.col("tot") + F.col("v")).cast("double")) * fp
            )
            .cast("long")
            .alias("unk_fp"),
            F.round(
                F.log(F.col("ndc").cast("double") / F.col("nd_all").cast("double"))
                * fp
            )
            .cast("long")
            .alias("prior_fp"),
        )
    )
    wgt = (
        cnt.join(F.broadcast(cls), "lc")
        .crossJoin(F.broadcast(vs))
        .select(
            "lc",
            "g",
            F.round(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("tot") + F.col("v")).cast("double")
                )
                * fp
            )
            .cast("long")
            .alias("w_fp"),
        )
    )
    # pivot the vocabulary-keyed weights to ONE row per gram (bounded
    # ≤ n_classes map) so the corpus-scale test side crosses the join
    # exchange ONCE instead of 5× — the class fan-out happens AFTER the
    # shuffle, on the map side of the score aggregate (guide §2.3:
    # shuffle fewer bytes; §3.3: explode after the join, not before).
    wgt5 = wgt.groupBy("g").agg(
        F.map_from_entries(F.collect_list(F.struct("lc", "w_fp"))).alias("wm")
    )
    sc = (
        test.select("doc_id", F.col("lang").alias("true_lang"), "g", "c")
        .join(wgt5.hint("shuffle_merge"), "g", "left")
        .crossJoin(F.broadcast(cstats))
        .groupBy("doc_id", "true_lang", "lc", "prior_fp")
        .agg(
            F.sum(
                F.col("c")
                * F.coalesce(F.try_element_at("wm", F.col("lc")), F.col("unk_fp"))
            )
            .cast("long")
            .alias("swsum"),
            F.sum("c").cast("long").alias("totc"),
        )
        .where(
            exactness_guard(
                F.col("totc").cast("double") <= F.lit(1.0e8),
                "q307: per-document gram mass exceeds 1e8 — the BIGINT "
                "score bound |score| < 4.2e18 no longer holds; shard the "
                "document before classifying",
            )
        )
        .select(
            "doc_id",
            "true_lang",
            "lc",
            (F.col("prior_fp") + F.col("swsum")).alias("s"),
        )
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), F.col("lc"))
    return (
        sc.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .groupBy("true_lang", F.col("lc").alias("pred_lang"))
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


@query(
    "q307_charngram_naive_bayes_langid",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS w
        FROM documents
    ), gx AS (
        SELECT doc_id, lang, unnest(list_transform(range(1, len(p) - 1),
                                                   i -> p[i:i+2])) AS g
        FROM (SELECT doc_id, lang, '_' || w || '_' AS p FROM tok)
    ), dg AS (
        SELECT doc_id, lang, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM gx GROUP BY 1, 2, 3
    ), cnt AS (
        SELECT lang AS lc, g, CAST(SUM(c) AS BIGINT) AS c
        FROM dg WHERE doc_id % 5 != 0 GROUP BY 1, 2
    ), vs AS (
        SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS v FROM cnt
    ), cls AS (
        SELECT lc, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY 1
    ), nd AS (
        SELECT lang AS lc, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndc
        FROM dg WHERE doc_id % 5 != 0 GROUP BY 1
    ), cstats AS (
        SELECT cls.lc,
               CAST(ROUND(ln(CAST(1 AS DOUBLE) / CAST(tot + v AS DOUBLE))
                          * 1000000000) AS BIGINT) AS unk_fp,
               CAST(ROUND(ln(CAST(ndc AS DOUBLE)
                             / CAST((SELECT SUM(ndc) FROM nd) AS DOUBLE))
                          * 1000000000) AS BIGINT) AS prior_fp
        FROM cls JOIN nd USING (lc), vs
    ), wgt AS (
        SELECT cnt.lc, g,
               CAST(ROUND(ln(CAST(c + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE))
                          * 1000000000) AS BIGINT) AS w_fp
        FROM cnt JOIN cls USING (lc), vs
    ), sc AS (
        SELECT tg.doc_id, tg.lang AS true_lang, cs.lc,
               cs.prior_fp
                 + CAST(SUM(tg.c * COALESCE(wgt.w_fp, cs.unk_fp)) AS BIGINT) AS s
        FROM (SELECT * FROM dg WHERE doc_id % 5 = 0) tg
        CROSS JOIN cstats cs
        LEFT JOIN wgt ON wgt.g = tg.g AND wgt.lc = cs.lc
        GROUP BY 1, 2, 3, cs.prior_fp
    ), pred AS (
        SELECT doc_id, true_lang, lc AS pred_lang
        FROM sc
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY s DESC, lc) = 1
    )
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY true_lang, pred_lang
    """,
    tags=("text", "langid", "naive-bayes", "classifier", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q307_charngram_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED char-n-gram language identifier — the CCNet pipeline step
    between q89 (PII) and q99 (quality yield) that the text family
    lacked: q32's lexicon heuristic needs a hand-built stopword list per
    language, while this is the fasttext-style learned classifier — a
    multinomial Naive Bayes over boundary-marked character 3-grams,
    trained on the 80% ``doc_id % 5 != 0`` split and evaluated on the
    held-out 20%, reported as a confusion matrix. Laplace +1 smoothing;
    unseen test grams get the per-class 1/(tot+V) floor; argmax breaks
    ties by class name ASC. (Measured before building, per the q305
    degenerate-output lesson: 30% held-out accuracy vs 20% chance at
    sf0.01, every confusion cell populated.)

    All determinism and scale properties live in
    :func:`nb_charngram_confusion` (shared with the planted-docs
    known-truth test)."""
    return nb_charngram_confusion(table(spark, sf_dir, "documents"))
