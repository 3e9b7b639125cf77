"""Byte-pair-encoding tokenizer training on the word histogram — the
canonical "custom operator Spark lacks" of a training-data pipeline
(SURVEY.md §2B extension surface; the reference has no tokenizer either,
this is pipeline-mandated capability).

Spark-first shape: BPE never needs the raw corpus after the first pass —
every real trainer (GPT-2's, SentencePiece) operates on the WORD
HISTOGRAM (distinct word → count), which is vocabulary-sized, not
corpus-sized. So:

1. one corpus pass builds (word, n) — the only 100 TB-scale stage, a
   single explode + groupBy shuffle;
2. each merge round runs entirely on the histogram: adjacent symbol
   pairs explode out weighted by word count, the argmax pair is a
   deterministic (count DESC, pair ASC) top-1, and the merge applies to
   the symbol arrays via an array-accumulator fold (per CLAUDE.md: one
   fold, never N sibling transforms);
3. the histogram localCheckpoints per round — the same
   constant-plan-per-round discipline as connected components.

The per-round driver collect is ONE row (the winning pair) — the same
order of driver traffic as an iterative convergence probe, and how every
distributed BPE implementation sequences merges (the merge choice is a
global argmax, inherently a driver decision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_migrator_spark.operators.dedup import tokens_of
from database_migrator_spark.plans.registry import query
from database_migrator_spark.sources import spread_for_cpu, substrate, table

# end-of-word sentinel (GPT-2 style "</w>") so merges can span to word
# boundaries and the learned units distinguish "er" mid-word from "er"
# word-finally. Single-codepoint so symbol arrays stay compact; NUL so
# no printable corpus character collides with it — and _initial_symbols
# additionally FILTERS the codepoint out of input words, so by
# construction a symbol containing EOW is always word-final (a corpus
# word that literally contains U+0000 would otherwise conflate with the
# boundary marker; the old U+00B7 sentinel had exactly that hole).
# Query outputs render it as the conventional "</w>" (EOW_DISPLAY) so
# driver-visible tables and SQL oracles stay printable.
EOW = "\u0000"
EOW_DISPLAY = "</w>"


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) counts — the only corpus-scale pass. Spreads narrow
    inputs before the tokenize lambda (single-file tables arrive as one
    partition); no-ops on already-wide 100 TB scans."""
    d = spread_for_cpu(docs)
    return (
        d.select(F.explode(tokens_of(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """Split each word into single-character symbols + the EOW sentinel.
    Input characters equal to the sentinel are dropped (collision guard:
    EOW can then never appear mid-word, whatever the corpus contains)."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: (c != "") & (c != EOW))
    return words.select(
        "word", "n", F.concat(chars, F.array(F.lit(EOW))).alias("syms")
    )


def _adjacent_pair_counts(syms: DataFrame) -> DataFrame:
    """Corpus-weighted counts of adjacent symbol pairs. zip_with on the
    array and its tail forms pairs positionally — one interpreted lambda
    per row, not one per pair."""
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, F.size("syms") - 1),
        F.slice(F.col("syms"), 2, F.size("syms") - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        syms.where(F.size("syms") >= 2)
        .select("n", F.explode(pairs).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum("n").alias("cnt"))
    )


def _apply_merge(syms_col, a: str, b: str):
    """Fold the symbol array left-to-right, joining each adjacent (a, b)
    into 'ab'. The accumulator IS the output array — one pass, and a
    just-merged symbol is never half of another merge in the same pass
    (matching the reference BPE semantics of non-overlapping greedy
    left-to-right application)."""
    ab = a + b

    def step(acc, s):
        # try_element_at is NULL-safe on the empty accumulator (ANSI mode
        # would error on element_at(-1)); NULL == a is NULL → falls to
        # append. A just-produced 'ab' can never be mistaken for a
        # trailing 'a' (b is non-empty, so ab != a), so greedy
        # left-to-right non-overlap needs no extra state.
        merged = F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab)))
        return F.when(
            (F.try_element_at(acc, F.lit(-1)) == a) & (s == b), merged
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms_col, F.array().cast("array<string>"), step)


def bpe_train(
    docs: DataFrame, n_merges: int = 20, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(rank, a, b, count), ...]
    in merge order. Deterministic: ties break on (a ASC, b ASC). Stops
    early when no adjacent pair remains (fully merged vocabulary)."""
    words = word_histogram(docs, text_col)
    syms = _initial_symbols(words).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            _adjacent_pair_counts(syms)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, cnt))
        syms = syms.select(
            "word", "n", _apply_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
    return merges


# trained merge lists are ingest-time artifacts (like the IVF index) —
# the session substrate "bpe", so q106/q107 share one 10-merge training run
@substrate("bpe", "documents")
def bpe_train_cached(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    return bpe_train(table(spark, sf_dir, "documents"), 10)


def bpe_segment(syms_df: DataFrame) -> DataFrame:
    """Token counts of the final segmentation: explode the merged symbol
    arrays weighted by word count."""
    return (
        syms_df.select("n", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("n").alias("cnt"))
    )


# The DuckDB twin of the WHOLE trainer, as one statement: a recursive CTE
# whose working table is the (word, n, symbol-string) histogram, where each
# recursion step (a) re-derives the corpus-weighted adjacent-pair counts by
# GROUP BY over the working table, (b) picks the argmax pair with the same
# (count DESC, a ASC, b ASC) tie-break in RAW symbol space (chr(0) = the
# Spark side's EOW sentinel, binary collation on both engines), and (c)
# applies the merge to every word via two sequential separator-delimited
# string replaces — two passes provably equal the Spark side's greedy
# left-to-right fold (pass 1 merges every other pair of an adjacent run
# because replace() consumes the shared delimiter; no two unmerged pairs
# stay adjacent, so pass 2 catches the rest, and merging can never create
# a NEW (a,b) adjacency since ab==a or ab==b is impossible for non-empty
# symbols). chr(31) is the symbol separator — it cannot appear inside a
# symbol built from whitespace-split word characters unless the corpus
# itself contains chr(31); the testdata is printable ASCII.
_BPE_RECURSIVE_CTE = r"""
WITH RECURSIVE words AS (
    SELECT replace(tok, chr(0), '') AS word, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ) GROUP BY 1
), init AS (
    SELECT word, n,
           chr(31) || coalesce(list_aggregate(string_split(word, ''),
                                              'string_agg', chr(31)), '')
                   || chr(31) || chr(0) || chr(31) AS s
    FROM words
), bpe AS (
    SELECT word, n, s, 0 AS r,
           CAST(NULL AS VARCHAR) AS ma, CAST(NULL AS VARCHAR) AS mb,
           CAST(NULL AS BIGINT) AS mcnt
    FROM init
    UNION ALL
    SELECT b.word, b.n,
           replace(replace(b.s, m.pat, m.rep), m.pat, m.rep) AS s,
           b.r + 1 AS r, m.a AS ma, m.bb AS mb, m.cnt AS mcnt
    FROM bpe b CROSS JOIN (
        SELECT chr(31) || a || chr(31) || bb || chr(31) AS pat,
               chr(31) || a || bb || chr(31) AS rep, a, bb, cnt
        FROM (
            SELECT p.pair[1] AS a, p.pair[2] AS bb,
                   CAST(SUM(p.n) AS BIGINT) AS cnt
            FROM (
                SELECT n,
                       unnest(list_transform(range(1, len(syms)),
                                             i -> [syms[i], syms[i+1]])) AS pair
                FROM (SELECT n, list_filter(string_split(s, chr(31)),
                                            x -> len(x) > 0) AS syms
                      FROM bpe)
            ) p
            GROUP BY 1, 2
            ORDER BY cnt DESC, a, bb
            LIMIT 1
        )
    ) m
    WHERE b.r < 10
)
"""

_Q106_ORACLE = _BPE_RECURSIVE_CTE + r"""
SELECT CAST(r - 1 AS BIGINT) AS rank,
       replace(ma, chr(0), '</w>') AS sym_a,
       replace(mb, chr(0), '</w>') AS sym_b,
       mcnt AS pair_count
FROM (SELECT DISTINCT r, ma, mb, mcnt FROM bpe WHERE r >= 1)
ORDER BY rank
"""

_Q107_ORACLE = _BPE_RECURSIVE_CTE + r"""
SELECT replace(token, chr(0), '</w>') AS token, CAST(SUM(n) AS BIGINT) AS cnt
FROM (
    SELECT n, unnest(list_filter(string_split(s, chr(31)),
                                 x -> len(x) > 0)) AS token
    FROM bpe WHERE r = (SELECT MAX(r) FROM bpe)
)
GROUP BY 1
ORDER BY cnt DESC, token
LIMIT 20
"""


@query(
    "q106_bpe_merges",
    oracle=_Q106_ORACLE,  # the full iterative trainer as one recursive-CTE
    # statement (see _BPE_RECURSIVE_CTE); ALSO exact-matched against a
    # pure-Python reference BPE trainer in tests/test_bpe.py
    tags=("text", "bpe", "tokenizer", "iterative", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q106_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 BPE merges learned from the documents corpus — tokenizer
    training as a declared operator. The corpus is touched once (word
    histogram); every merge round runs on the vocabulary-sized histogram
    with a one-row driver argmax, exactly how production BPE trainers
    scale (wall-clock per round is Spark job fixed overhead, not data —
    tokenizer training is ingest-time work like ivf_fit). Deterministic
    by (count DESC, pair ASC) tie-break, so the driver's rows-only gate
    sees a stable table. Symbols render the NUL sentinel as '</w>'."""
    merges = bpe_train_cached(spark, sf_dir)
    return spark.createDataFrame(
        [
            (int(r), a.replace(EOW, EOW_DISPLAY), b.replace(EOW, EOW_DISPLAY), int(c))
            for r, a, b, c in merges
        ],
        "rank bigint, sym_a string, sym_b string, pair_count bigint",
    ).orderBy("rank")


@query(
    "q107_bpe_vocabulary",
    oracle=_Q107_ORACLE,  # same recursive-CTE trainer, final-round
    # segmentation exploded to the top-20 vocabulary
    tags=("text", "bpe", "tokenizer", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q107_bpe_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE side of the tokenizer: apply the 10 learned merges to the
    word histogram and report the top-20 resulting subword tokens by
    corpus frequency — the vocabulary a trained BPE would ship. The
    merge list is learned once (q106's loop); application is 10 chained
    folds over the vocabulary-sized histogram, then one weighted explode
    + aggregate. Deterministic (count DESC, token ASC)."""
    d = table(spark, sf_dir, "documents")
    words = word_histogram(d)
    syms = _initial_symbols(words).localCheckpoint(eager=True)
    for _, a, b, _cnt in bpe_train_cached(spark, sf_dir):
        syms = syms.select(
            "word", "n", _apply_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
    return (
        bpe_segment(syms)
        .select(
            F.replace(F.col("token"), F.lit(EOW), F.lit(EOW_DISPLAY)).alias("token"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


_Q116_ORACLE = _BPE_RECURSIVE_CTE + r"""
, pieces AS (
    SELECT word,
           CAST(len(list_filter(string_split(s, chr(31)),
                                x -> len(x) > 0)) AS BIGINT) AS np
    FROM bpe WHERE r = (SELECT MAX(r) FROM bpe)
), src AS (
    SELECT source, replace(tok, chr(0), '') AS word, COUNT(*) AS n FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ) GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_words,
       CAST(CAST(SUM(n * np) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS fertility
FROM src JOIN pieces USING (word)
GROUP BY source
ORDER BY source
"""


@query(
    "q116_tokenizer_fertility",
    oracle=_Q116_ORACLE,
    tags=("text", "bpe", "tokenizer", "diagnostics", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q116_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source — corpus-weighted subword pieces
    per word under the q106-learned merges. THE acceptance metric for a
    trained tokenizer on a corpus mix (a source whose fertility is far
    above the rest is being shredded into characters, inflating its
    effective token cost and skewing the q104 sampling weights).

    Shape at scale: merges apply to the DISTINCT-word table (vocabulary-
    sized folds, the q107 path), which then joins the per-(source, word)
    counts on word — a vocabulary-keyed shuffle join (never broadcast:
    web-scale vocabularies are the q103 lesson). Fertility divides two
    exact BIGINTs, so it hashes bit-identically; the oracle re-learns
    the merges inside the same recursive CTE as q106/q107."""
    d = table(spark, sf_dir, "documents")
    words = word_histogram(d)
    syms = _initial_symbols(words).localCheckpoint(eager=True)
    for _, a, b, _cnt in bpe_train_cached(spark, sf_dir):
        syms = syms.select(
            "word", "n", _apply_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
    pieces = syms.select("word", F.size("syms").cast("long").alias("np"))
    src = (
        spread_for_cpu(d)
        .select("source", F.explode(tokens_of("text")).alias("tok"))
        .select(
            "source", F.replace(F.col("tok"), F.lit(EOW), F.lit("")).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("n"))
    )
    return (
        src.join(pieces.hint("shuffle_merge"), "word")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_words"),
            (
                F.sum(F.col("n") * F.col("np")).cast("double")
                / F.sum("n").cast("double")
            ).alias("fertility"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q306 — unigram-LM (SentencePiece-style) tokenizer: hard-EM + Viterbi encode
# ---------------------------------------------------------------------------

# unit separator between pieces inside a segmentation string (cannot occur
# in whitespace-split word characters unless the corpus itself contains
# chr(31); the testdata is printable ASCII — same convention as the BPE
# recursive-CTE oracle above)
_SEP = "\x1f"
_UNI_MAX_PIECE = 4  # max piece length considered (chars)
_UNI_TOPK_MULTI = 20  # multi-char seed pieces kept (plus ALL single chars)
_UNI_EM_ROUNDS = 2  # hard-EM weight updates before the final encode


def _seed_substring_counts(words: DataFrame) -> DataFrame:
    """Corpus-weighted counts of every 1..4-char substring of the word
    histogram (with multiplicity). One nested transform per word — outer
    over start positions, inner over lengths."""
    w = F.col("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(_UNI_MAX_PIECE), F.length(w) - i + 1),
                ),
                lambda j: F.substring(w, i.cast("int"), j.cast("int")),
            ),
        )
    )
    return (
        words.select("n", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("c"))
    )


def _smoothed_logprob_fp(c_col, tot_col, v_col):
    """round(ln((c+1)/(tot+V)) * 1e9) as BIGINT — ONE IEEE division then
    ln, rounded ONCE, mirrored verbatim in the oracle (q258 discipline)."""
    return (
        F.round(
            F.log((c_col + 1).cast("double") / (tot_col + v_col).cast("double"))
            * F.lit(1_000_000_000)
        )
        .cast("long")
        .alias("w")
    )


def _viterbi_segmentation(word_col, wm_col):
    """Best segmentation of ``word_col`` under the piece log-prob map
    ``wm_col`` (map<string, bigint> fixed-point weights), returned as a
    chr(31)-joined piece string.

    Exact-integer DP, one aggregate fold over character positions: the
    accumulator carries dp scores (BIGINT, prefix-best) and the best
    segmentation string per prefix; candidates at each position are the
    ≤4 pieces ending there that exist in the vocabulary (single chars
    always do, so the DP is total). Tie-break = max(score, piece_len):
    identical to the oracle's list_reverse_sort on {'s','j'} structs.
    BIGINT sums make the score order-independent across engines."""
    length = F.length(word_col)

    def step(acc, pos):
        cands = F.filter(
            F.transform(
                F.sequence(F.lit(1), F.least(F.lit(_UNI_MAX_PIECE), pos)),
                lambda j: F.struct(
                    (
                        F.element_at(acc["dps"], (pos - j + 1).cast("int"))
                        + F.try_element_at(
                            wm_col,
                            F.substring(
                                word_col, (pos - j + 1).cast("int"), j.cast("int")
                            ),
                        )
                    ).alias("s"),
                    j.cast("int").alias("j"),
                ),
            ),
            lambda cand: cand["s"].isNotNull(),
        )
        best = F.array_max(cands)
        piece = F.substring(
            word_col, (pos - best["j"] + 1).cast("int"), best["j"].cast("int")
        )
        prev = F.element_at(acc["segs"], (pos - best["j"] + 1).cast("int"))
        seg = F.when(prev == "", piece).otherwise(
            F.concat(prev, F.lit(_SEP), piece)
        )
        return F.struct(
            F.concat(acc["dps"], F.array(best["s"])).alias("dps"),
            F.concat(acc["segs"], F.array(seg)).alias("segs"),
        )

    init = F.struct(
        F.array(F.lit(0).cast("long")).alias("dps"),
        F.array(F.lit("")).alias("segs"),
    )
    acc = F.aggregate(F.sequence(F.lit(1), length), init, step)
    return F.element_at(acc["segs"], (length + 1).cast("int"))


def unigram_lm_pieces(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer: seed vocabulary from
    substring counts, ``_UNI_EM_ROUNDS`` hard-EM (Viterbi) weight
    updates, final Viterbi encode. Returns (piece, cnt, logprob) for the
    corpus segmentation under the final weights.

    Scale shape (the q106 discipline): ONE corpus pass builds the word
    histogram; everything after runs on the vocabulary-sized histogram —
    per EM round one weight-map broadcast (bounded: all single chars +
    top-20 multi-char seeds by construction) and one Viterbi fold pass,
    with the histogram spread across cores before the interpreted
    lambdas and checkpointed once (constant plan per round)."""
    spark = docs.sparkSession
    words = word_histogram(docs, text_col).localCheckpoint(eager=True)
    words = spread_for_cpu(words)
    # singles and multi BOTH read the substring aggregate — checkpoint it
    # once or the explode+shuffle subtree executes twice (r13 review)
    subs = _seed_substring_counts(words).localCheckpoint(eager=True)
    singles = subs.where(F.length("piece") == 1)
    multi = (
        subs.where(F.length("piece") >= 2)
        .orderBy(F.col("c").desc(), "piece")
        .limit(_UNI_TOPK_MULTI)  # TakeOrdered — never a global sort
    )
    vocab = singles.unionByName(multi).localCheckpoint(eager=True)
    vstats = vocab.agg(
        F.count("*").cast("long").alias("v"), F.sum("c").cast("long").alias("tot")
    )
    weights = vocab.crossJoin(F.broadcast(vstats)).select(
        "piece", _smoothed_logprob_fp(F.col("c"), F.col("tot"), F.col("v"))
    )

    def encode(weights_df: DataFrame) -> DataFrame:
        wm = weights_df.agg(
            F.map_from_entries(F.collect_list(F.struct("piece", "w"))).alias("wm")
        )
        return (
            words.crossJoin(F.broadcast(wm))
            .select(
                "n",
                F.explode(
                    F.split(_viterbi_segmentation(F.col("word"), F.col("wm")), _SEP)
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("n").cast("long").alias("c"))
        )

    for _ in range(_UNI_EM_ROUNDS):
        cnt = encode(weights).localCheckpoint(eager=True)
        tot_k = cnt.agg(F.sum("c").cast("long").alias("tot"))
        weights = (
            vocab.select("piece")
            .join(cnt, "piece", "left")
            .crossJoin(F.broadcast(tot_k))
            .crossJoin(F.broadcast(vstats.select("v")))
            .select(
                "piece",
                _smoothed_logprob_fp(
                    F.coalesce(F.col("c"), F.lit(0)), F.col("tot"), F.col("v")
                ),
            )
            .localCheckpoint(eager=True)  # vocab-sized; next round + output read it
        )
    final = encode(weights)
    return final.join(weights, "piece").select(
        "piece",
        F.col("c").alias("cnt"),
        (F.col("w").cast("double") / F.lit(1e9)).alias("logprob"),
    )


_VIT_CTE = """
, vit{K} AS (
    SELECT word, n, 0 AS pos,
           [CAST(0 AS BIGINT)] AS dps, [''] AS segs,
           (SELECT map(list(piece), list(w)) FROM w{P}) AS wm
    FROM words
    UNION ALL
    SELECT word, n, pos + 1,
           list_append(dps, best.s),
           list_append(segs,
             CASE WHEN segs[pos+2-best.j] = ''
                  THEN word[pos+2-best.j:pos+1]
                  ELSE segs[pos+2-best.j] || chr(31)
                       || word[pos+2-best.j:pos+1] END),
           wm
    FROM (
        SELECT word, n, pos, dps, segs, wm,
               list_reverse_sort(list_filter(
                 list_transform(range(1, least(4, pos+1) + 1),
                   j -> {{'s': dps[pos+2-j] + wm[word[pos+2-j:pos+1]][1],
                         'j': j}}),
                 c -> c.s IS NOT NULL))[1] AS best
        FROM vit{K} WHERE pos < len(word)
    )
), seg{K} AS (
    SELECT n, unnest(string_split(segs[len(word)+1], chr(31))) AS piece
    FROM vit{K} WHERE pos = len(word)
), cnt{K} AS (
    SELECT piece, CAST(SUM(n) AS BIGINT) AS c FROM seg{K} GROUP BY 1
)
"""

_WNEXT_CTE = """
, w{K} AS (
    SELECT v.piece,
           CAST(ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                         / CAST((SELECT SUM(c) FROM cnt{K})
                                + (SELECT COUNT(*) FROM vocab) AS DOUBLE))
                      * 1000000000) AS BIGINT) AS w
    FROM vocab v LEFT JOIN cnt{K} c USING (piece)
)
"""

# The whole trainer as ONE DuckDB statement (the q106 recursive-CTE
# discipline): seed substring counts -> vocab -> w0, then each hard-EM
# round = a RECURSIVE Viterbi DP over character positions (list-state
# rows carry dp scores + best segmentation per prefix; DuckDB's working
# table only exposes the previous iteration, so the DP state rides in
# list columns — the q282 pattern) followed by a smoothed weight update;
# EM rounds are UNROLLED as successive recursive CTEs (vit1/vit2/vit3 —
# the q300 unrolling rule: per-round argmax needs ORDER BY inside
# list_reverse_sort, and cross-round aggregation is disallowed in a
# single recursive grammar).
_Q306_ORACLE = (
    r"""
WITH RECURSIVE words AS (
    SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ) GROUP BY 1
), subs AS (
    SELECT piece, CAST(SUM(n) AS BIGINT) AS c FROM (
        SELECT n, unnest(flatten(list_transform(range(1, len(word) + 1),
                 i -> list_transform(range(1, least(4, len(word) - i + 1) + 1),
                                     j -> word[i:i+j-1])))) AS piece
        FROM words) GROUP BY 1
), vocab AS (
    SELECT piece, c FROM subs WHERE len(piece) = 1
    UNION ALL
    SELECT piece, c FROM (
        SELECT piece, c FROM subs WHERE len(piece) >= 2
        ORDER BY c DESC, piece LIMIT 20)
), w0 AS (
    SELECT piece,
           CAST(ROUND(ln(CAST(c + 1 AS DOUBLE)
                         / CAST((SELECT SUM(c) FROM vocab)
                                + (SELECT COUNT(*) FROM vocab) AS DOUBLE))
                      * 1000000000) AS BIGINT) AS w
    FROM vocab
)
"""
    + _VIT_CTE.format(K=1, P=0)
    + _WNEXT_CTE.format(K=1)
    + _VIT_CTE.format(K=2, P=1)
    + _WNEXT_CTE.format(K=2)
    + _VIT_CTE.format(K=3, P=2)
    + """
SELECT c.piece, c.c AS cnt,
       CAST(w.w AS DOUBLE) / 1000000000.0 AS logprob
FROM cnt3 c JOIN w2 w USING (piece)
ORDER BY cnt DESC, piece
LIMIT 20
"""
)


@query(
    "q306_unigram_lm_vocabulary",
    oracle=_Q306_ORACLE,
    tags=("text", "unigram-lm", "sentencepiece", "tokenizer", "iterative", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q306_unigram_lm_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer — the third production
    tokenizer family next to BPE (q106/q107) and WordPiece (q275), and
    the one real pipelines train at least as often: seed a vocabulary
    from corpus-weighted substring counts (all single chars + the top-20
    multi-char pieces, so coverage is total by construction), run 2
    hard-EM rounds (Viterbi E-step on integer fixed-point log-probs,
    smoothed count M-step), then Viterbi-encode the corpus and report
    the top-20 pieces by corpus frequency with their final log-probs.

    Determinism: log-probs are rounded ONCE per piece to 1e-9
    fixed-point BIGINTs (q258 discipline) and the Viterbi DP sums
    BIGINTs, so both engines replay the identical merge of ties
    (score DESC, then LONGER piece — the oracle's struct sort order).
    The oracle runs the whole trainer as one statement: recursive
    list-state Viterbi CTEs (q282 pattern) with EM rounds unrolled
    (q300 rule). Also exact-matched against a pure-Python trainer in
    tests/test_round13.py."""
    return (
        unigram_lm_pieces(table(spark, sf_dir, "documents"))
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(20)
    )
