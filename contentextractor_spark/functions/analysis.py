"""Training-data pipeline operators over the documents/embeddings tables.

These are the large-scale corpus-curation operators a 100 TB training-data
pipeline needs on top of extraction: deduplication (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding cosine), similarity search (brute-force
top-k + LSH-bucketed scale path), and text analysis (language-ID, quality
scoring, token counting, fingerprinting).

Design rules:
 - everything is built-in `pyspark.sql.functions` (JVM-side, codegen'd) —
   NO Python UDFs anywhere in this module, with ONE sanctioned exception:
   the vectorized Arrow pandas-UDF cosine rescore (`_pair_cos_numpy`),
   the production scale path for the embedding pair producers (r3 verdict
   #2 — the interpreted F.aggregate fold remains only as the
   oracle-exact twin whose fold order matches DuckDB list_reduce);
 - every op is DuckDB-oracle-expressible (hashes via md5, MinHash via
   lexicographic min over md5(seed||shingle), SimHash bits via hex-digit
   arithmetic) so the driver can value-check them;
 - scale notes per op: shuffles are keyed on high-cardinality columns
   (doc_id, shingle) and skew-guarded (stop-shingle frequency cap).
"""

from __future__ import annotations

import math
import weakref

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _pin(df: DataFrame, cache_handle: list | None = None) -> DataFrame:
    """Persist `df` (MEMORY_AND_DISK) — the one storage level for an
    intermediate that several branches of one plan re-read — and append
    it to `cache_handle` when one is given.  A lazily built result cannot
    know when it is materialized, so the persisted frame stays pinned
    until GC/ContextCleaner; callers that DO materialize the result
    (dedup_components, bench loops) pass a list and .unpersist() its
    entries afterwards (ADVICE r2)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_handle is not None:
        cache_handle.append(df)
    return df

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + distinct-token count per document."""
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
    )


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-document lexical-diversity card over whitespace tokens:
    (doc_id, n_tokens, n_types, n_hapax, ttr_milli, hapax_milli) —
    type-token ratio and hapax-legomenon fraction in integer
    milli-units, the classic richness signals (template/boilerplate
    pages repeat a tiny vocabulary → low TTR; genuine prose keeps
    hapax fraction high).  Complements repetition_signals (n-gram
    level) with the token-distribution view.

    Token convention = token_counts exactly: F.split(text, ' ') —
    empty string yields one '' token, so n_tokens >= 1 and the
    divisions never see zero.

    Scale: one explode + two map-side-combinable groupBys; the
    (doc_id, tok) intermediate is bounded by corpus token volume and
    partitions uniformly on doc_id.  All-integer divisions on
    non-negative operands (Spark div ≡ DuckDB //)."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    per = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        "(n_types * 1000) div n_tokens AS ttr_milli",
        "(n_hapax * 1000) div n_tokens AS hapax_milli",
    )


def readability(docs: DataFrame) -> DataFrame:
    """Per-document FORCAST readability grade in integer milli-units:
    grade = 20 − 15·(monosyllabic words / words), i.e. forcast_milli =
    20000 − n_mono·15000 div n_words ∈ [5000, 20000].  FORCAST
    (Caylor/Sticht 1973, US Army) is the readability formula built for
    NON-NARRATIVE text — forms, listings, technical material — because
    it needs no sentence boundaries, which is exactly this corpus
    (and most web-extracted text after boilerplate stripping): Flesch/
    Kincaid-style formulas degenerate when every doc counts 0
    sentence-enders.

    Syllable heuristic: vowel GROUPS ([aeiouy]+ runs, lowercased) —
    the standard cheap proxy; a token with exactly one group is
    monosyllabic.  Non-Latin tokens count 0 groups, are never
    monosyllabic, and push the grade toward the 20.0 ceiling —
    documented behavior for CJK docs, not a bug (the card is a
    Latin-prose difficulty signal; read it next to script_profile).

    Exactness: the identical '[aeiouy]+' pattern runs under Java regex
    (Spark) and RE2 (DuckDB) — character-class-only, no engine drift;
    all arithmetic integer on non-negative operands (div ≡ //).

    Scale: one explode + a codegen'd per-token regexp_extract_all in a
    row-level projection (never an interpreted lambda over the
    exploded stream — the r3 catalog) + one map-side-combinable
    groupBy(doc_id).  Docs whose tokens are ALL empty strings vanish
    from the output (no tokens → no rows); greatest(n_words,1) guards
    the division anyway."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("t"),
    ).filter(F.col("t") != "")
    per = toks.select(
        "doc_id",
        "lang",
        F.size(
            F.regexp_extract_all(F.lower("t"), F.lit("[aeiouy]+"), 0)
        ).alias("syl"),
    )
    return (
        per.groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.when(F.col("syl") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_mono"),
            F.sum("syl").cast("long").alias("n_syllables"),
        )
        .selectExpr(
            "doc_id",
            "lang",
            "n_words",
            "n_mono",
            "n_syllables",
            "20000 - n_mono * 15000 div greatest(n_words, 1L)"
            " AS forcast_milli",
        )
    )


# GPT-2-style pre-tokenizer approximation, lookahead-free so the identical
# pattern runs under Java regex (Spark) and RE2 (DuckDB): letter runs,
# single digits (numbers split per digit, as byte-BPE pre-tokenizers do),
# and single non-alphanumeric marks.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def token_counts_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting: the subword-budget estimator for context
    packing (whitespace counts underestimate; this approximates a byte-BPE
    pre-tokenizer's segment count).  One regexp_count per row — narrow,
    JVM-side."""
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN)).alias("n_bpe_tokens"),
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
    )


# CJK char class (Unified Ideographs, kana, Hangul syllables) — ONE
# definition shared by lang_id, lang_profile, and their DuckDB oracles
# (which interpolate this constant, never a second hand-typed copy)
CJK_CLASS = "一-鿿぀-ゟ゠-ヿ가-힣"


def lang_id(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """n-gram/char-class language heuristic: CJK char count vs Latin.
    The CJK class covers Unified Ideographs, kana, AND Hangul syllables —
    Korean previously fell through to 'latin' (r3 full-file review).
    `carry` rides extra src columns through the projection (langid_eval
    keeps the truth label without a join-back shuffle)."""
    cjk = F.length(F.regexp_replace("text", f"[^{CJK_CLASS}]", ""))
    latin = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    return docs.select(
        "doc_id",
        *carry,
        cjk.alias("cjk_chars"),
        latin.alias("latin_chars"),
        F.when(cjk > latin, "cjk").otherwise("latin").alias("pred_lang"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Cheap quality signals: alpha ratio, mean token length, stopword hits."""
    n = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    return docs.select(
        "doc_id",
        F.round(alpha * 100.0 / (n + 1), 4).alias("alpha_pct"),
        F.round((n - n_tokens + 1) * 1.0 / n_tokens, 4).alias("mean_token_len"),
        stop_hits.alias("stopword_hits"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: 64-bit prefix of md5 over normalized text."""
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id", F.substring(F.md5(norm), 1, 16).alias("fingerprint")
    )


ROLLING_B = 31
ROLLING_M = 1_000_000_007


def rolling_fingerprints(docs: DataFrame) -> DataFrame:
    """Karp–Rabin rolling hash over the token stream:
    h = fold(tokens, 0, (acc, t) -> (acc*B + hv(t)) mod M).

    Order-sensitive (unlike the md5 content hash) — equal prefixes share
    hash prefixes, the standard building block for shift-tolerant dup
    detection.  Engine-portable: the identical fold runs in DuckDB via
    list_reduce (oracle-checked).

    The token hash is the bigint value of md5's first 8 hex digits via ONE
    conv() per token (measured r3: the per-digit strpos arithmetic ran md5
    8× per token inside the interpreted lambda — 1.2 s vs 0.26 s at sf0.1,
    identical values)."""
    hashed = F.expr(
        "transform(split(text, ' '), "
        "w -> cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint))"
    )
    fold = F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * ROLLING_B + v) % ROLLING_M,
    )
    return docs.select("doc_id", fold.alias("rolling_fp"))


def cdc_chunks(docs: DataFrame, mask_bits: int = 4) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync idea at token
    granularity): a chunk boundary falls AFTER every token whose hash has
    its low mask_bits zero, so expected chunk length is 2^mask_bits
    tokens and — unlike fixed-size chunking (chunk_hash_dedup) — an
    insertion shifts only the ONE chunk it lands in: every later chunk
    re-aligns at the next content-defined boundary and keeps its
    fingerprint.  Output: (doc_id, chunk_id, start_pos, end_pos,
    n_tokens, fp).

    The token hash is the repo's one-conv() md5-prefix convention (< 2^32)
    and the chunk fingerprint is the order-free weighted integer sum
    Σ hv·(local_pos+1) — position-sensitive WITHIN the chunk (a
    permutation changes fp) yet an exact integer both engines sum in any
    row order; |fp| < 2^32·len², far inside LongType for any real chunk.

    Scale: one explode, two doc-partitioned windows (exclusive boundary
    cumsum for the chunk id — high-cardinality partitions), one
    map-side-combinable groupBy; everything codegen'd."""
    if not 1 <= mask_bits <= 20:
        raise ValueError("mask_bits must be in [1, 20]")
    mask = (1 << mask_bits) - 1
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    chunked = tok.select(
        "doc_id",
        "pos",
        "hv",
        F.coalesce(
            F.sum((F.col("hv") % (mask + 1) == 0).cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ).alias("chunk_id"),
    )
    wc = Window.partitionBy("doc_id", "chunk_id")
    located = chunked.withColumn("cstart", F.min("pos").over(wc))
    return (
        located.groupBy("doc_id", "chunk_id")
        .agg(
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.col("hv") * (F.col("pos") - F.col("cstart") + 1)
            ).alias("fp"),
        )
    )


def cdc_chunk_dedup(docs: DataFrame, mask_bits: int = 4) -> DataFrame:
    """Cross-document shared content-defined chunks: (fp, n_tokens,
    n_docs, n_occurrences) for every chunk fingerprint appearing in more
    than one document — the shift-tolerant dedup signal fixed-size
    chunk_hash_dedup cannot give (its chunks break on any insertion).
    One map-side-combinable groupBy over cdc_chunks."""
    ch = cdc_chunks(docs, mask_bits=mask_bits)
    return (
        ch.groupBy("fp", "n_tokens")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


def token_rarity(docs: DataFrame) -> DataFrame:
    """Corpus-statistics quality signal: per document, the sum and min of
    the corpus-wide document frequencies of its distinct tokens.  Low
    min_df ⇒ the doc contains corpus-rare tokens (OOV/noise indicator);
    integer-only so cross-engine checks are exact.

    Scale: the DF table is a map-side-combinable groupBy; the join back is
    on token (high cardinality, no skew guard needed beyond AQE)."""
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    df_counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(df_counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("df").alias("sum_df"),
            F.min("df").alias("min_df"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
        )
    )


def corpus_report(docs: DataFrame) -> DataFrame:
    """Per-language data-card row — the summary a curation run publishes
    alongside its output shards: doc count, token volume, exact-duplicate
    count, quality-keep count, and mean doc length.  Composes the real
    operators (quality_filter rules, dedup_exact ranking) rather than
    re-deriving signals, and every column is integer (counts, sums,
    integer-division mean) so the report is engine-exact.

    Scale (ADVICE r3 correction): beyond dedup_exact's own content-hash
    window, the two inner joins on doc_id each add an exchange unless AQE
    happens to reuse a partitioning — three doc_id-keyed shuffles total
    feeding the final map-side-combinable groupBy(lang).  All are
    high-cardinality uniform keys, so they scale; they are just not
    free."""
    qf = quality_filter(docs).select("doc_id", "n_words", "keep")
    de = dedup_exact(docs).select("doc_id", "is_duplicate")
    base = docs.select("doc_id", "lang", F.length("text").alias("n_chars"))
    return (
        base.join(qf, "doc_id")
        .join(de, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("is_duplicate").cast("long").alias("n_exact_dups"),
            F.sum("keep").cast("long").alias("n_quality_keep"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "n_exact_dups",
            "n_quality_keep",
            F.expr("total_chars div n_docs").alias("mean_chars"),
        )
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms per document by term frequency, with corpus document
    frequency and a TF-IDF score attached — the inverted-index flavor of
    token_rarity (per-doc salient terms instead of per-doc rarity sums).

    Exactness: the RANKING keys are (tf DESC, term ASC) — integer count +
    lexicographic tie-break, engine-exact; the transcendental lives only in
    the score column, rounded to 4dp per the repo's boundary-safe
    convention (same as the cosine ranks).  Residual risk in the HASHED
    score column (ADVICE r3, same class unigram_surprisal documents): the
    4dp round removes none of ln()'s own 1-ulp cross-engine wiggle, so a
    tf·ln(n/df) value landing within ~1e-13·|x| of a 4dp boundary could
    round differently across engines.  No boundary case exists in the
    shipped fixtures; if a future fixture change trips a hash mismatch
    here with matching rows/ranks, this is the first thing to check.

    Scale: tf and df are map-side-combinable groupBys (doc_id,term / term);
    the corpus size rides in as a ONE-ROW broadcast crossJoin (no
    .collect() scalar, no second job); top-k is a Window PARTITIONED BY
    doc_id — per-partition rank, never a global single-task sort."""
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    return (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "rank",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


# default rule thresholds — module constants so the DuckDB oracles (the
# standalone quality_filter row AND curation_v3's gate) interpolate the
# SAME numbers the Spark defaults use; a literal edited in one place
# cannot silently diverge from the other (r3 session-2 review)
QF_MIN_WORDS = 40
QF_MAX_WORDS = 10_000
QF_MIN_MEAN_LEN_X10 = 30
QF_MAX_MEAN_LEN_X10 = 120
QF_MAX_DIGIT_PCT = 20
QF_MIN_DISTINCT_PCT = 30


def quality_filter(
    docs: DataFrame,
    min_words: int = QF_MIN_WORDS,
    max_words: int = QF_MAX_WORDS,
    min_mean_len_x10: int = QF_MIN_MEAN_LEN_X10,
    max_mean_len_x10: int = QF_MAX_MEAN_LEN_X10,
    max_digit_pct: int = QF_MAX_DIGIT_PCT,
    min_distinct_pct: int = QF_MIN_DISTINCT_PCT,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style rule filter: compose cheap signals into a keep/drop
    verdict with the violated rules NAMED (a training pipeline needs to
    know WHY a doc fell, per-rule drop rates are the curation dashboard).

    Every rule is an integer cross-multiplication — mean word length in
    [3.0, 12.0] is checked as sum_len*10 < 30*n_words, never a float
    division — so the verdict is engine-exact with no rounding convention.
    Thresholds are parameters; the defaults follow the Gopher paper's
    word-count / mean-word-length / repetition bands adapted to
    space-tokenized text.

    Scale: a pure row-level projection — no shuffle, no UDF, whole-stage
    codegen; runs at scan speed and composes with curation_pipeline.
    `carry` rides extra src columns through the projection (the lang_id
    convention — wilson_quality_ci keeps its group key without a
    join-back shuffle; defaults empty, output schema unchanged)."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    # chars excluding the n_words-1 separators
    sum_len = F.length("text") - (n_words - F.lit(1))
    n_digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_distinct = F.size(F.array_distinct(words))
    rules = [
        ("too_short", n_words < min_words),
        ("too_long", n_words > max_words),
        ("short_words", sum_len * 10 < min_mean_len_x10 * n_words),
        ("long_words", sum_len * 10 > max_mean_len_x10 * n_words),
        ("digit_heavy", n_digits * 100 > max_digit_pct * F.length("text")),
        ("repetitive", n_distinct * 100 < min_distinct_pct * n_words),
    ]
    violations = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return docs.select(
        "doc_id",
        *carry,
        n_words.alias("n_words"),
        violations.alias("violations"),
        (violations == "").cast("int").alias("keep"),
    )


def hashed_linear_score(
    docs: DataFrame,
    n_buckets: int = 4096,
    threshold_micro: int = 0,
) -> DataFrame:
    """(doc_id, n_feats, score_micro, keep): fastText-style hashed linear
    model scoring — the mechanism behind model-based quality filtering
    (DCLM / fastText classifiers): word unigram + bigram features are
    hashed into n_buckets with the hashing trick, each bucket carries a
    weight, and the doc score is the mean feature weight.  The weights
    here are md5-derived integer micro-units (a deterministic stand-in —
    the DELIVERABLE is the scoring plan: swap the range-derived weight
    table for a trained model's and nothing else changes).

    Scale design: the weight table is O(n_buckets) rows built from
    spark.range and BROADCAST to the feature stream (never a shuffle on
    the corpus side); features are one md5 + pmod per exploded gram (all
    codegen — no interpreted lambdas, grams via _gram_stream); the score
    is one map-side-combinable groupBy(sum, count).  Integer end to end:
    weight = hex_int(md5('w:'||bucket), 8 digits) % 2001 − 1000 micro
    units ∈ [−1000, 1000]; the signed mean uses the offset trick
    ((s + 1000·n) div n − 1000 — Spark div truncates toward zero, DuckDB
    // floors, they agree only on non-negatives: the r4 lesson).

    Feature normalization is engine-exact by construction: strip every
    non-ASCII-alnum run to one space (same regex both engines), THEN
    lowercase — lower() on pure ASCII is identical everywhere, so unicode
    case-folding differences can never leak into the hash.  Docs whose
    text normalizes to empty have no features and are excluded."""
    norm = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.trim(
                F.lower(F.regexp_replace("text", "[^A-Za-z0-9]+", " "))
            ).alias("text"),
        )
        .filter(F.col("text") != "")
    )
    # r6: ONE explode of the zipped word array yields BOTH feature
    # streams — each struct carries (w_i, w_{i+1}) so the unigram is
    # field 0 and the bigram is the null-guarded concat (the r5 form
    # union'd _gram_stream(1) and _gram_stream(2): two corpus scans,
    # two regexp normalizations, two explodes for the same features)
    words = F.split(F.col("text"), " ")
    z = F.arrays_zip(
        words, F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1)))
    )
    pairs = norm.select("doc_id", F.explode(z).alias("s")).select(
        "doc_id",
        F.col("s").getItem("0").alias("w0"),
        F.col("s").getItem("1").alias("w1"),
    )
    # concat_ws would SKIP a null w1 and alias the unigram — the bigram
    # must be null-propagating so tail structs contribute no feature
    big = F.when(
        F.col("w1").isNotNull(), F.concat(F.col("w0"), F.lit(" "), F.col("w1"))
    )

    def _bucket(c):
        return F.pmod(
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        )

    fb = pairs.select("doc_id", _bucket(F.col("w0")).alias("b1"), _bucket(big).alias("b2"))
    spark = docs.sparkSession
    weights = spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(2001),
            )
            - 1000
        ).alias("w_micro"),
    )
    # two broadcast hash joins against the SAME 4096-row weight table
    # (unigram bucket inner, bigram bucket LEFT — tail structs have a
    # null b2); identical sums/counts to the r5 union form
    agg = (
        fb.join(
            F.broadcast(
                weights.select(
                    F.col("bucket").alias("b1"), F.col("w_micro").alias("wu")
                )
            ),
            "b1",
        )
        .join(
            F.broadcast(
                weights.select(
                    F.col("bucket").alias("b2"), F.col("w_micro").alias("wb")
                )
            ),
            "b2",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            (
                F.count(F.lit(1))
                + F.coalesce(
                    F.sum(F.col("b2").isNotNull().cast("long")), F.lit(0)
                )
            ).alias("n_feats"),
            (
                F.sum("wu") + F.coalesce(F.sum("wb"), F.lit(0))
            ).alias("__s"),
        )
    )
    score = F.expr("(__s + 1000 * n_feats) div n_feats - 1000")
    return agg.select(
        "doc_id",
        "n_feats",
        score.cast("long").alias("score_micro"),
        (score >= threshold_micro).cast("int").alias("keep"),
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
    max_postings: int | None = None,
) -> DataFrame:
    """Classic IR inverted index as a DataFrame: term → (df, postings[]),
    postings sorted ascending.  df always reports the TRUE document
    frequency, so a truncated posting list (max_postings) is detectable by
    the consumer — never a silent cap.

    Scale: the distinct (doc_id, term) stream is one map-side-combinable
    groupBy(term).  Posting lists are where term skew lives — a stopword's
    list is the corpus; that is a data property, not a shuffle property,
    and the guards are max_df (drop stopword terms outright — an IR index
    rarely wants them) and max_postings (bound the array payload).  With
    both unset this degrades to term-partitioned full lists, which is
    exactly what a posting-file writer would range-partition out."""
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    agg = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )
    if min_df > 1:
        agg = agg.filter(F.col("df") >= min_df)
    if max_df is not None:
        agg = agg.filter(F.col("df") <= max_df)
    if max_postings is not None:
        agg = agg.withColumn(
            "postings", F.slice(F.col("postings"), 1, max_postings)
        )
    return agg


def term_search(docs: DataFrame, terms: list[str]) -> DataFrame:
    """Conjunctive (AND) term query: doc_ids containing ALL the given
    terms.  The posting-intersection of inverted_index, expressed directly
    over the corpus: explode distinct tokens, keep query terms, count
    matches per doc, require all of them.  One filtered explode + one
    map-side-combinable groupBy — the filter prunes the token stream to
    |terms| tokens per doc BEFORE the shuffle, so the exchange carries at
    most docs × |terms| rows regardless of vocabulary size."""
    uniq = sorted(set(terms))
    if not uniq:
        raise ValueError("term_search needs at least one term")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    ).filter(F.col("term").isin(uniq))
    return (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == len(uniq))
        .select("doc_id")
    )


def champion_lists(docs: DataFrame, r: int = 10) -> DataFrame:
    """Champion lists (impact-ordered postings, Manning IR §7.1.3): per
    term keep only the top-r docs by tf — the static index-pruning that
    lets a query touch r postings per term instead of the full list.
    Output: (term, doc_id, tf, rank), rank 1..r by (tf DESC, doc_id
    ASC) — the doc_id tiebreak makes truncation deterministic (this
    corpus's tiny vocabulary is tie-heavy).

    Scale: one map-side-combinable groupBy(term, doc_id) + one window
    partitioned by term.  Stopword skew lives in the window's per-term
    sort; at web scale pre-filter max_df stopwords (inverted_index's
    guard) before ranking — champions of a stopword are meaningless
    anyway."""
    if r < 1:
        raise ValueError("r must be >= 1")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    return tf.select(
        "term", "doc_id", "tf", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= r)


def champion_search_eval(
    docs: DataFrame, terms: list[str], r: int = 10, k: int = 10
) -> DataFrame:
    """Calibration row for champion-list retrieval (the lsh_eval
    pattern: score the SHIPPED pruned index against the SHIPPED exact
    scoring in-engine): top-k docs for a disjunctive tf-sum query,
    once over full postings and once over champions only; one row
    (k, r, n_exact, n_champ, n_common, recall_milli).

    Determinism: both top-k's order by (score DESC, doc_id ASC) —
    orderBy().limit(k) plans as TakeOrderedAndProject (never a global
    sort); integer tf sums are order-free."""
    if k < 1:
        raise ValueError("k must be >= 1")
    qt = [t for t in terms]
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.col("term").isin(qt))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wr = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    champ = tf.select(
        "*", F.row_number().over(wr).alias("__r")
    ).filter(F.col("__r") <= r)

    def _topk(postings):
        scores = postings.groupBy("doc_id").agg(
            F.sum("tf").alias("score")
        )
        return scores.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)

    ex = _topk(tf).select(F.col("doc_id").alias("e"))
    ch = _topk(champ).select(F.col("doc_id").alias("c"))
    joined = ex.join(ch, ex["e"] == ch["c"], "full")
    return joined.agg(
        F.lit(k).alias("k"),
        F.lit(r).alias("r"),
        F.count("e").alias("n_exact"),
        F.count("c").alias("n_champ"),
        F.count(F.when(F.col("e").isNotNull() & F.col("c").isNotNull(), 1)).alias(
            "n_common"
        ),
    ).select(
        "k",
        "r",
        "n_exact",
        "n_champ",
        "n_common",
        F.expr("n_common * 1000 div greatest(n_exact, 1)").alias(
            "recall_milli"
        ),
    )


def _pagerank_driver(
    edges: DataFrame,
    iters: int,
    damping_pct: int,
    redistribute_dangling: bool,
    seed_set=None,
) -> DataFrame | None:
    """r6 driver fast path shared by pagerank / personalized_pagerank
    (the kcore pattern): the integer-division update is a pure function
    of the (multi-)edge list — replayed exactly in int64 numpy (sums
    order-free by integerness; // == Spark div on non-negatives).
    `edges` must already be localCheckpointed.  Returns None above the
    edge bound; seed_set (an array of seed ids) switches to the PPR
    teleport."""
    from pyspark.sql.types import IntegralType, StringType

    src_t = edges.schema["src"].dataType
    if not isinstance(src_t, (IntegralType, StringType)):
        return None
    if seed_set is not None and not isinstance(src_t, IntegralType):
        # PPR seeds are compared as longs — only integral node graphs
        return None
    ep = _collect_within(edges.select("src", "dst"), GRAPH_DRIVER_MAX_EDGES)
    if ep is None or len(ep) == 0:
        return None  # schema inference needs rows; slow path handles empty
    nodes, si, di = _factorize(ep["src"].to_numpy(), ep["dst"].to_numpy())
    outdeg = np.bincount(si, minlength=nodes.size).astype(np.int64)
    teleport = (100 - damping_pct) * 10_000
    n_nodes = nodes.size
    if seed_set is None:
        p = np.full(n_nodes, 1_000_000, dtype=np.int64)
        tele_vec = np.full(n_nodes, teleport, dtype=np.int64)
    else:
        sflag = np.isin(nodes, seed_set).astype(np.int64)
        p = sflag * 1_000_000
        tele_vec = sflag * teleport
    for _ in range(iters):
        c = p[si] // np.maximum(outdeg[si], 1)
        in_mass = np.zeros(n_nodes, dtype=np.int64)
        np.add.at(in_mass, di, c)
        if redistribute_dangling:
            share = int(p[outdeg == 0].sum()) // n_nodes
            in_mass = in_mass + share
        p = tele_vec + (in_mass * damping_pct) // 100
    pdf = pd.DataFrame({"node": pd.Series(nodes), "rank_micro": p})
    out = edges.sparkSession.createDataFrame(pdf)
    # preserve the slow path's column types exactly: node keeps the
    # src/dst type, rank_micro is long
    return out.select(
        F.col("node").cast(src_t).alias("node"),
        F.col("rank_micro").cast("long").alias("rank_micro"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Integer-arithmetic PageRank over an edge list (src, dst) — the
    classic web-graph ranking a Common-Crawl pipeline runs over its host
    link graph, expressed so every engine computes BIT-IDENTICAL ranks.

    All arithmetic is integer micro-probabilities: p0 = 1e6 per node;
    p_{t+1}(v) = (100-d)/100 * 1e6  +  d * Σ_{u→v} (p_t(u) div outdeg(u))
    div 100 — integer division at each step, so sums are order-free and
    cross-engine exact (the float formulation would drift with row order).

    redistribute_dangling (r3 verdict #5): with False, sink mass is
    DROPPED (ranks not comparable to textbook PageRank on graphs with
    sinks); with True, each round adds Σ_{v dangling} p_t(v) div n_nodes
    to every node's in-mass before damping — computed as one one-row
    broadcast per round (left-anti agg over outdeg, no driver collect),
    still all-integer and order-free.  n_nodes is one count job at build.

    Overflow bound (ADVICE r3): the update multiplies in_mass by
    damping_pct before the div, so a single node's in-mass must stay
    below (2^63-1)/damping_pct ≈ 1.1e17 micro-probs — total graph mass is
    ~n·1e6, so a hub absorbing ALL mass overflows only past ~10^11 nodes
    (ANSI mode raises loudly, never wraps).  Beyond that, shrink p0 or
    rescale per round; dividing before multiplying would lose the exact
    integer semantics.

    Scale: outdeg is one map-side-combinable groupBy computed ONCE; each
    iteration is one join on src (contributions) + one groupBy on dst —
    the same bounded-round shuffle pattern as the LSS component solver,
    with localCheckpoint cutting lineage per round.  Nodes = src ∪ dst;
    sinks keep the teleport term every round."""
    if not 1 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [1, 100]")
    # materialize the edge list ONCE — every iteration's checkpoint job
    # references edges through nodes, outdeg, AND the contribution join,
    # so a lazy (or expensive, e.g. extract_links-fed) edges subtree would
    # re-execute ~4× per round; a non-deterministic source could even
    # disagree with itself within one round (r3 session-2 review)
    edges = edges.localCheckpoint()
    fast = _pagerank_driver(edges, iters, damping_pct, redistribute_dangling)
    if fast is not None:
        return fast
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint()
    teleport = (100 - damping_pct) * 10_000  # (1-d) * 1e6, integer
    n_nodes = nodes.count() if redistribute_dangling else None
    pr = nodes.select("node", F.lit(1_000_000).cast("long").alias("p"))
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges["src"] == pr["node"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("p div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        nxt = nodes.join(contrib, "node", "left")
        if redistribute_dangling:
            # per-node share of this round's sink mass: one one-row
            # broadcast (the LSS-digest shape), integer div — every node
            # (including the sinks themselves) receives it pre-damping
            share = (
                pr.join(outdeg, pr["node"] == outdeg["src"], "left_anti")
                .agg(
                    F.expr(f"coalesce(sum(p), 0L) div {n_nodes}").alias(
                        "__share"
                    )
                )
            )
            mass = F.expr(
                f"((coalesce(in_mass, 0L) + __share) * {damping_pct}) div 100"
            )
            nxt = nxt.crossJoin(F.broadcast(share))
        else:
            mass = F.expr(f"(coalesce(in_mass, 0L) * {damping_pct}) div 100")
        pr = (
            nxt.select(
                "node", (F.lit(teleport).cast("long") + mass).alias("p")
            )
            .localCheckpoint()
        )
    return pr.select("node", F.col("p").alias("rank_micro"))


def hits_scores(
    edges: DataFrame, iters: int = 2, scale: int = 1_000_000_000
) -> DataFrame:
    """Integer-arithmetic HITS (Kleinberg hubs & authorities) over an edge
    list (src, dst) — the classic companion to PageRank for web-graph
    curation (authorities = well-cited content hosts, hubs = link
    directories / crawl seeds), expressed so every engine computes
    BIT-IDENTICAL scores.

    Convention (all-integer, order-free): edges are dedup'd (classic HITS
    adjacency is 0/1); h0 = scale div n_nodes for every node; each round
        a_raw(v) = Σ_{u→v} h(u);   a(v) = (a_raw(v)·scale) div Σ a_raw
        h_raw(u) = Σ_{u→v} a(v);   h(u) = (h_raw(u)·scale) div Σ h_raw
    L1 normalization replaces the textbook L2 norm — sqrt is a
    transcendental that would drift across engines, while integer L1
    keeps every step exact and preserves the ranking (HITS scores are
    scale-invariant); the eigenvector direction is unchanged.

    Overflow bound: after any normalization every component ≤ scale and
    the vector total ≤ scale, so raw·scale ≤ scale² = 1e18 < 2^63-1; the
    h0 init divides scale by n_nodes so the FIRST un-normalized a_raw is
    also ≤ scale.  Requires n_nodes ≤ scale (1e9 nodes at the default —
    a host graph, not a page graph; raise `scale` bound-consciously).

    Scale: same bounded-round shape as pagerank — per round two joins on
    the edge endpoints + two map-side-combinable groupBys + two one-row
    broadcast normalizers (the LSS-digest shape, no driver collect);
    localCheckpoint per half-round cuts lineage (the pagerank lesson:
    without it the edges subtree re-executes per round)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    edges = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub_micro"),
            F.lit(0).cast("long").alias("auth_micro"),
        )
    if n_nodes > scale:
        raise ValueError(
            f"hits_scores: {n_nodes} nodes exceeds scale={scale}; the "
            "h0 = scale div n init would be 0 — raise scale (overflow "
            "bound: scale^2 must stay below 2^63)"
        )

    def _normalize(raw: DataFrame, out_col: str) -> DataFrame:
        # one-row broadcast total; (raw*scale) div total — each input
        # component ≤ scale so the product ≤ scale² (bound above).  total
        # ≥ 1 whenever edges is non-empty (every h/a vector keeps ≥ 1
        # micro-unit of mass through the div floors at n ≤ scale).
        s = raw.agg(F.sum("raw").alias("__s"))
        return raw.crossJoin(F.broadcast(s)).select(
            "node", F.expr(f"(raw * {scale}) div __s").alias(out_col)
        )

    h = nodes.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("h")
    )
    a = None
    for _ in range(iters):
        a_raw = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("raw"))
            .select(F.col("dst").alias("node"), "raw")
        )
        a_full = nodes.join(a_raw, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        )
        a = _normalize(a_full, "a").localCheckpoint()
        h_raw = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("raw"))
            .select(F.col("src").alias("node"), "raw")
        )
        h_full = nodes.join(h_raw, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        )
        h = _normalize(h_full, "h").localCheckpoint()
    return (
        h.join(a, "node")
        .select(
            "node",
            F.col("h").alias("hub_micro"),
            F.col("a").alias("auth_micro"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected link graph — the
    clustering-coefficient numerator (link-farm / mutual-citation-ring
    detection: organic web neighborhoods are triangle-sparse, spam rings
    triangle-dense).

    Algorithm: degree-ordered orientation (the MapReduce-era standard —
    Suri & Vassilvitskii WWW'11 / Cohen's bucketing): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher,
    which makes every oriented out-degree O(sqrt(m)) on ANY graph, so
    the wedge self-join (the only superlinear step) is bounded by
    sum(outdeg^2) <= m^1.5 instead of the unoriented sum(deg^2) that a
    star host would blow up.  Each triangle is found exactly once (its
    nodes form a chain in the total order).

    Integer convention: the order key packs (degree, node) as
    deg*2^32 + node — unique total order, no float, same expression in
    the oracle.  Bounds: node < 2^32, deg < 2^31 (raise the shift for a
    larger id space — the winnowing packing lesson: never narrow it).

    Scale: canonical-edge distinct + one map-side-combinable degree
    groupBy; the oriented edge table is localCheckpointed once and
    reused by all three join legs (the pagerank lesson — without it the
    degree subtree re-executes per leg); wedge join keyed on the wedge
    apex, closing join on the (v, w) edge key — both equi-joins on
    uniform keys, skew bounded by the orientation."""
    return _triangles_over_und(_und_edges(edges))


def _und_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge table: (lo, hi) with lo < hi, self-loops
    dropped, both directions merged — the shared head of triangle_counts
    / clustering_coefficients / degree_assortativity."""
    return (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _triangles_over_und(und: DataFrame) -> DataFrame:
    """triangle_counts body over a pre-canonicalized (lo, hi) table —
    callers that already hold (and may have checkpointed) the undirected
    edges skip the second least/greatest/distinct pass."""
    # per-row refusal on the packing bound (the latest_snapshot raise
    # convention): a node >= 2^32 (e.g. an xxhash64-keyed graph) would
    # silently collide with (deg+1, node-2^32) and corrupt counts
    key_ok = (F.col("node") >= 0) & (F.col("node") < F.lit(2**32))
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            "node",
            F.when(
                key_ok, F.col("deg") * F.lit(2**32) + F.col("node")
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "triangle_counts: node id outside [0, 2^32) — "
                        "re-key the graph or widen the packing shift"
                    )
                ).cast("long")
            )
            .alias("key"),
        )
    )
    klo = deg.select(F.col("node").alias("lo"), F.col("key").alias("klo"))
    khi = deg.select(F.col("node").alias("hi"), F.col("key").alias("khi"))
    oriented = (
        und.join(klo, "lo")
        .join(khi, "hi")
        .select(
            F.when(F.col("klo") < F.col("khi"), F.col("klo"))
            .otherwise(F.col("khi"))
            .alias("ku"),
            F.when(F.col("klo") < F.col("khi"), F.col("khi"))
            .otherwise(F.col("klo"))
            .alias("kv"),
        )
        .localCheckpoint()
    )
    o1 = oriented.select(F.col("ku").alias("u"), F.col("kv").alias("v"))
    o2 = oriented.select(F.col("ku").alias("u"), F.col("kv").alias("w"))
    wedges = o1.join(o2, "u").filter(F.col("v") < F.col("w"))
    closing = oriented.select(
        F.col("ku").alias("v"), F.col("kv").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    return (
        tri.select(
            F.explode(F.array("u", "v", "w")).alias("key")
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("triangles"))
        .select(
            F.pmod(F.col("key"), F.lit(2**32)).cast("long").alias("node"),
            "triangles",
        )
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Web-graph degree distribution: (direction, degree, n_nodes) for
    both out- and in-degree over the deduplicated directed edge list —
    the first thing to look at before sizing any graph job (a power-law
    tail here is WHY the co-citation/triangle producers carry caps).

    Scale: two map-side-combinable groupBys per direction (node-count,
    then histogram) — the second one's key space is the number of
    DISTINCT degrees (tiny); no join, no window."""
    e = edges.select("src", "dst").distinct()

    def hist(col: str, tag: str) -> DataFrame:
        return (
            e.groupBy(F.col(col).alias("node"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .select(F.lit(tag).alias("direction"), "degree", "n_nodes")
        )

    return hist("src", "out").unionByName(hist("dst", "in"))


def _cocite_outdeg(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst").distinct()
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))


def co_citation_pairs(
    edges: DataFrame,
    max_out: int = 64,
    min_count: int = 1,
) -> DataFrame:
    """Co-citation related-page discovery (Small 1973, the HITS-era
    similarity): pages (a, b) are related when many sources link to
    BOTH — (dst_a, dst_b, n_sources) for canonical dst_a < dst_b pairs
    co-cited by >= min_count sources.

    Skew guard (the LSH-cap convention): a source with outdeg d emits
    d*(d-1)/2 pairs, so one link-farm hub with 10^5 out-links would
    contribute 5*10^9 rows; sources with outdeg > max_out are DROPPED
    from the pair join and reported loudly by the co_citation_overflow
    twin — never silently truncated.  With the cap, pair volume is
    <= sum(min(outdeg, max_out)^2)/2 — linear in edges for fixed
    max_out.

    Scale: distinct + one outdeg groupBy; the keep set joins back as a
    semi-join on src; the pair self-join keys on src (bounded fan-out
    by the cap); final groupBy on the pair key is map-side combinable.
    The distinct'd edge table is always localCheckpointed — it feeds the
    degree aggregate, the semi-join probe AND both self-join legs, and
    without the checkpoint the whole upstream edge subtree re-executes
    4x (measured in the fixture plan: 4 copies of the edge builder; the
    simhash_neardup_pairs band-checkpoint lesson)."""
    if max_out < 2:
        raise ValueError("max_out must be >= 2 (pairs need two dsts)")
    e = edges.select("src", "dst").distinct().localCheckpoint()
    keep = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).filter(
        F.col("outdeg") <= max_out
    )
    e2 = e.join(keep.select("src"), "src", "left_semi")
    a = e2.select("src", F.col("dst").alias("dst_a"))
    b = e2.select("src", F.col("dst").alias("dst_b"))
    return (
        a.join(b, "src")
        .filter(F.col("dst_a") < F.col("dst_b"))
        .groupBy("dst_a", "dst_b")
        .agg(F.count(F.lit(1)).alias("n_sources"))
        .filter(F.col("n_sources") >= min_count)
    )


def co_citation_overflow(edges: DataFrame, max_out: int = 64) -> DataFrame:
    """The loud companion to co_citation_pairs' cap: (src, outdeg) of
    every source the cap excluded, so a capped run is auditable instead
    of silently lossy (the minhash/simhash overflow-twin convention)."""
    return _cocite_outdeg(edges).filter(F.col("outdeg") > max_out)


def adamic_adar(edges: DataFrame, max_deg: int = 64) -> DataFrame:
    """Adamic–Adar link prediction over the undirected graph (Adamic &
    Adar 2003): for non-adjacent pairs (a, b), score = Σ over common
    neighbors z of 1/ln(deg(z)) — rare shared neighbors count more than
    hubs.  The "suggest related pages / find missing links" primitive a
    crawl-frontier ranker reads next to co_citation (which counts raw
    co-sources, unweighted, on the directed graph).

    Exactness: the weight is quantized PER NODE before the pair sum —
    w_micro(z) = floor(10⁶ / ln(deg(z))) with the float expression tree
    identical in both engines (ln-of-integer, the unigram_surprisal
    convention; its documented 1-ulp-at-floor-boundary caveat applies)
    — so pair scores are order-free integer sums.  deg(z) ≥ 2 is
    structural (a wedge center needs two neighbors), so ln never sees 1.

    Skew guard (the co_citation cap convention): a center with degree d
    emits d(d−1)/2 pairs, so centers with deg > max_deg are EXCLUDED
    from wedge formation and reported loudly by adamic_adar_overflow —
    which is also statistically principled: a 10⁵-degree hub contributes
    w ≈ 10⁶/11.5 per pair across 5·10⁹ pairs of near-zero individual
    meaning.  Pair volume is ≤ Σ min(deg, max_deg)²/2 — linear in edges
    for fixed max_deg.

    Scale: und edges localCheckpointed (they feed the incidence union
    twice, both wedge legs AND the final anti-join); the wedge self-join
    keys on the center z with cap-bounded fan-out; the final groupBy is
    map-side combinable; existing edges are removed by an anti-join on
    the canonical (lo, hi) key — candidates only, the link-prediction
    contract."""
    if max_deg < 2:
        raise ValueError("max_deg must be >= 2 (a wedge center needs two)")
    und = _und_edges(edges).localCheckpoint()
    inc = und.select(
        F.col("lo").alias("z"), F.col("hi").alias("nb")
    ).union(und.select(F.col("hi").alias("z"), F.col("lo").alias("nb")))
    deg = inc.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    w = deg.filter(
        (F.col("deg") >= 2) & (F.col("deg") <= max_deg)
    ).select(
        "z",
        F.expr(
            "CAST(floor(CAST(1000000 AS DOUBLE) / ln(CAST(deg AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("w_micro"),
    )
    cn = inc.join(w, "z")
    a = cn.select("z", "w_micro", F.col("nb").alias("a"))
    b = cn.select("z", F.col("nb").alias("b"))
    scored = (
        a.join(b, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("w_micro").cast("long").alias("score_micro"),
        )
    )
    return scored.join(
        und,
        (scored["a"] == und["lo"]) & (scored["b"] == und["hi"]),
        "left_anti",
    )


def adamic_adar_overflow(edges: DataFrame, max_deg: int = 64) -> DataFrame:
    """Loud companion to adamic_adar's degree cap: (node, deg) of every
    center the cap excluded from wedge formation (the overflow-twin
    convention — a capped run is auditable, never silently lossy)."""
    und = _und_edges(edges)
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return deg.filter(F.col("deg") > max_deg)


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the undirected link
    graph, in integer milli-units: cc_milli = (2 * triangles * 1000)
    div (deg * (deg - 1)) for nodes with deg >= 2 (Watts & Strogatz
    1998) — the link-farm density score that complements the raw
    triangle count (a hub with many triangles but huge degree is
    organic; a mid-degree node whose neighborhood is near-complete is a
    ring).

    Exactness: all-integer — the numerator/denominator are both
    non-negative so Spark div ≡ DuckDB // (the r4 signed-division
    lesson never triggers).

    Scale: the canonical undirected table is built ONCE and
    localCheckpointed — it feeds the degree groupBy AND the full
    triangle subtree (3 join legs); without the checkpoint the edge
    subtree re-executes 4x (the pagerank/co_citation lesson).  Degree
    groupBy is map-side combinable; the triangle core is the
    degree-ordered-orientation bound (sum outdeg^2 <= m^1.5).  Left
    join keeps triangle-free nodes at cc_milli = 0."""
    und = _und_edges(edges).localCheckpoint()
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = _triangles_over_und(und)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        )
        .withColumn(
            "cc_milli",
            F.expr("(triangles * 2000) div (deg * (deg - 1))"),
        )
    )


def link_reciprocity(edges: DataFrame) -> DataFrame:
    """Per-source link reciprocity over the dedup'd directed graph:
    (node, outdeg, mutual, recip_milli = mutual * 1000 div outdeg) —
    mutual-citation-ring detection (organic web linking is mostly
    one-way; near-1000 reciprocity on a whole host neighborhood is a
    link-exchange signal) and the directed complement to the undirected
    triangle/cc family.  Self-loops are dropped (a page linking itself
    is not reciprocity).

    Scale: one distinct + localCheckpoint (the table feeds the outdeg
    groupBy, the semi-join probe side AND its reversed build side — 3
    legs); mutual detection is a left-semi equi-join of the edge table
    against its own reversal on the full (src, dst) key — uniform keys,
    no fan-out; both groupBys map-side combinable.  All-integer,
    non-negative operands."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mut = (
        e.join(rev, ["src", "dst"], "left_semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("mutual"))
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return (
        outdeg.join(mut, "src", "left")
        .select(
            F.col("src").alias("node"),
            "outdeg",
            F.coalesce("mutual", F.lit(0)).cast("long").alias("mutual"),
        )
        .withColumn("recip_milli", F.expr("(mutual * 1000) div outdeg"))
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected graph (Newman 2002) as an
    all-integer OLS slope over BOTH orientations of every undirected
    edge: with both orientations present the x/y marginals coincide
    (sx = sy, sxx = syy), so the OLS slope EQUALS the Pearson
    assortativity coefficient r — no sqrt, no float, no quantized
    transcendental (degrees are already integers).  Negative r =
    hub-and-spoke web shape; positive = core-periphery/ring.

    Division convention (r4 signed-div lesson: operands kept
    non-negative, sign via CASE): num = n*sxy - sx*sy (signed),
    den = n*sxx - sx*sx (>= 0), and by Cauchy-Schwarz on the symmetric
    marginals |num| <= den, so while den <= 9e12 the FULL-precision
    form (|num| * 1000000) div den cannot overflow LongType; beyond
    that the zipf_fit staging ((|num| * 1000) div (den div 1000)) takes
    over, exact to ~1e-3 relative — the CASE threshold is a constant,
    identical in both engines.  Staged-branch overflow bound:
    |num| <= 9.2e15, i.e. n*D <= ~1e8 (n = 2*edges, D = max degree) —
    re-stage before a graph beyond that (the winnowing
    never-narrow-the-shift rule applied to multipliers).

    Scale: canonical undirected table localCheckpointed once (feeds the
    degree groupBy and both join legs); two broadcast-eligible joins of
    edges against the (node, deg) table; one single-row aggregate ends
    the plan.  den = 0 (regular graph) implies num = 0 — result 0, no
    special case."""
    und = _und_edges(edges).localCheckpoint()
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dlo = deg.select(F.col("node").alias("lo"), F.col("deg").alias("dlo"))
    dhi = deg.select(F.col("node").alias("hi"), F.col("deg").alias("dhi"))
    pr = und.join(dlo, "lo").join(dhi, "hi")
    both = pr.select(
        F.col("dlo").alias("x"), F.col("dhi").alias("y")
    ).unionByName(pr.select(F.col("dhi").alias("x"), F.col("dlo").alias("y")))
    sums = both.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mag = (
        "CASE WHEN n * sxx - sx * sx <= 9000000000000 THEN "
        "  (abs(n * sxy - sx * sy) * 1000000)"
        "  div greatest(n * sxx - sx * sx, 1) "
        "ELSE "
        "  (abs(n * sxy - sx * sy) * 1000)"
        "  div ((n * sxx - sx * sx) div 1000) "
        "END"
    )
    return sums.selectExpr(
        "n AS n_endpoints",
        f"CASE WHEN n * sxy - sx * sy < 0 THEN -({mag}) "
        f"ELSE {mag} END AS assort_micro",
    )


def _isqrt(n):
    """Exact integer sqrt of a non-negative LongType column, cross-engine:
    both engines' float sqrt is 1-ulp accurate, so floor(sqrt(double(n)))
    is within ±1 of isqrt(n) for n < 2^52; two integer corrections make
    it exact — the first fixes an undershoot, the second an overshoot of
    the corrected value.  This is the transcendental-elimination family's
    sqrt member (ln: micro-nat floors; sqrt: correctable because the
    target is itself an integer)."""
    y0 = F.floor(F.sqrt(n.cast("double"))).cast("long")
    y1 = y0 + F.when((y0 + 1) * (y0 + 1) <= n, 1).otherwise(0)
    return y1 - F.when(y1 * y1 > n, 1).otherwise(0)


def temperature_mix(
    docs: DataFrame, budget: int = 100_000, group_col: str = "source"
) -> DataFrame:
    """Temperature-based source mixing (the XLM-R / CCNet alpha=0.5
    convention): sampling weight per source ∝ n_docs^0.5, flattening
    the source distribution so head sources stop dominating the
    training mix.  Returns (source, n_docs, w, share_micro,
    target_docs): w = isqrt(n_docs) exactly (see _isqrt — float sqrt
    corrected to the true integer root, so cross-engine exact with NO
    transcendental residue, unlike the ln-based micro-nat rows),
    share_micro = w*1e6 div total_w, target_docs = w*budget div
    total_w (truncating, so sum(target_docs) <= budget — the
    remainder is the caller's largest-remainder pass if exact budget
    fill matters; documented, not hidden).

    Per-row raise guard (the latest_snapshot convention): n_docs must
    stay below 2^52 for the float-sqrt ±1 bound to hold — raise, not
    silently mis-root.

    Scale: one map-side-combinable groupBy(source); total_w rides
    back as a one-row broadcast crossJoin (the corpus-total
    convention).  Alpha other than 0.5 needs the ln/exp path — this
    operator deliberately ships the exact-arithmetic special case."""
    counts = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    guarded = F.when(
        F.col("n_docs") >= F.lit(1 << 52),
        F.raise_error(
            F.lit("temperature_mix: n_docs exceeds the isqrt exactness bound")
        ).cast("long"),
    ).otherwise(_isqrt(F.col("n_docs")))
    w = counts.select("source", "n_docs", guarded.alias("w"))
    tot = w.agg(F.sum("w").cast("long").alias("total_w"))
    return (
        w.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_docs",
            "w",
            "(w * 1000000) div total_w AS share_micro",
            f"(w * {int(budget)}) div total_w AS target_docs",
        )
    )


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column data-profile card: (column, n_rows, n_null,
    n_distinct, null_milli) — the schema-drift / quality monitor a
    lake team runs per ingest batch (a column whose null fraction or
    cardinality jumps between snapshots signals an upstream break).
    n_distinct excludes NULLs (both engines' count(DISTINCT col)
    convention).

    Scale: ONE aggregate computes every column's stats in one pass —
    Spark plans the multiple exact count(DISTINCT) via Expand (row
    multiplication by len(cols)+1 before the map-side combine), the
    standard exact-profiling cost; swap in approx_count_distinct when
    cardinalities may be corpus-sized and exactness is not needed
    (the HLL rows are the sketch path).  The unpivot is the
    vocab_growth literal-struct-array explode over the one-row
    aggregate — no second scan, no per-column job."""
    if not cols:
        raise ValueError("table_profile: cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_null_{c}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"_dist_{c}"))
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_null_{c}").alias("n_null"),
                F.col(f"_dist_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return (
        one.select(F.col("_n").alias("n_rows"), F.explode(entries).alias("e"))
        .select(
            F.col("e.column").alias("column"),
            "n_rows",
            F.col("e.n_null").alias("n_null"),
            F.col("e.n_distinct").alias("n_distinct"),
        )
        .withColumn("null_milli", F.expr("(n_null * 1000) div n_rows"))
    )


def _seed_bfs(
    edges: DataFrame, seeds: DataFrame, max_depth: int
) -> DataFrame:
    """(seed, node, dist): landmark BFS state — the shared head of
    harmonic_centrality and distance_distribution (and the σ-free
    shape of betweenness_approx's forward pass).  Frontier form with
    localCheckpoint per round (the pagerank lesson)."""
    dist = (
        seeds.select(F.col("node").cast("long").alias("seed"))
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
        .localCheckpoint()
    )
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint()
    # the work bound n_edges * n_seeds <= GRAPH_DRIVER_MAX_WORK, as an
    # edge bound (integer floor keeps it exact)
    sp_ = _collect_within(dist.select("seed"), GRAPH_DRIVER_MAX_WORK)
    ep = None if sp_ is None else _collect_within(
        edges,
        min(GRAPH_DRIVER_MAX_EDGES, GRAPH_DRIVER_MAX_WORK // max(len(sp_), 1)),
    )
    if ep is not None:
        # r6 driver fast path (the kcore pattern): landmark BFS is a
        # pure function of the directed edge list — first reach is
        # shortest, replayed per seed with vectorized level expansion.
        seed_vals = sp_["seed"].to_numpy(dtype=np.int64)
        nodes, si, di, sc = _factorize(
            ep["src"].to_numpy(dtype=np.int64),
            ep["dst"].to_numpy(dtype=np.int64),
            seed_vals,
        )
        out_s: list = []
        out_n: list = []
        out_d: list = []
        for sv, s0 in zip(seed_vals.tolist(), sc.tolist()):
            d = np.full(nodes.size, -1, dtype=np.int64)
            d[s0] = 0
            for r in range(1, max_depth + 1):
                sel = d[si] == r - 1
                if not sel.any():
                    break
                reached = np.unique(di[sel])
                new = reached[d[reached] == -1]
                d[new] = r
            m = d >= 0
            out_s.append(np.full(int(m.sum()), sv, dtype=np.int64))
            out_n.append(nodes[m])
            out_d.append(d[m])
        if out_s:
            pdf = pd.DataFrame(
                {
                    "seed": np.concatenate(out_s),
                    "node": np.concatenate(out_n),
                    "dist": np.concatenate(out_d),
                }
            )
        else:
            pdf = pd.DataFrame({"seed": [], "node": [], "dist": []}, dtype="int64")
        return edges.sparkSession.createDataFrame(
            pdf, schema="seed bigint, node bigint, dist bigint"
        )
    for r in range(1, max_depth + 1):
        frontier = dist.filter(F.col("dist") == r - 1).select(
            "seed", F.col("node").alias("src")
        )
        nxt = edges.join(frontier, "src").select(
            "seed",
            F.col("dst").alias("node"),
            F.lit(r).cast("long").alias("dist"),
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def harmonic_centrality(
    edges: DataFrame, seeds: DataFrame, max_depth: int = 4
) -> DataFrame:
    """Landmark (seed-anchored) harmonic centrality: for every node,
    H_milli = sum over seeds s (s != node, d(s, node) <= max_depth) of
    1000 div d(s, node), plus n_seeds_reached — the Boldi-Vigna
    centrality restricted to a landmark set, the standard approximation
    when all-pairs distances are unaffordable (pick k landmarks; the
    estimate concentrates).  Distances follow edge DIRECTION (seed →
    node), matching a crawler's reachability view.

    Exactness: per-seed distance is the BFS frontier invariant (first
    reach is shortest); 1000 div d terms are integers summed order-free.

    Scale: the state is (seed, node, dist) — landmark count times
    reachable set, the deliberate trade vs bfs_levels' min-over-seeds
    collapse (which cannot attribute per-seed contributions).  Each
    round joins the round-(r-1) frontier with edges and re-mins; the
    groupBy is map-side combinable; localCheckpoint per round (the
    pagerank lesson).  Keep |seeds| at landmark scale (10s-100s), not
    corpus scale — state is the product."""
    dist = _seed_bfs(edges, seeds, max_depth)
    return (
        dist.filter(F.col("dist") >= 1)
        .groupBy("node")
        .agg(
            F.sum(F.expr("1000 div dist")).cast("long").alias("h_milli"),
            F.count(F.lit(1)).cast("long").alias("n_seeds_reached"),
        )
    )


def negative_samples(
    docs: DataFrame, k: int = 4, salt: str = "ns0"
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training:
    k pseudo-random negatives per anchor doc, drawn from the corpus id
    space [0, n) excluding the anchor itself — neg_j = (doc_id + 1 +
    u32(md5(salt:doc_id:j)) % (n-1)) % n, so the offset lies in
    [1, n-1] and a self-pair is impossible by construction.  Salted
    (the weighted_sample convention): a new salt redraws independently,
    epochs use salt=f"ns{{epoch}}".  Assumes dense ids [0, n) (the
    epoch_shuffle fixture contract); join through a shuffle table first
    for sparse id spaces.

    Exactness: md5-hex → u32 is the epoch_shuffle shard convention
    (first 8 hex digits), integer mod both engines (non-negative).

    Scale: zero shuffle — n rides in as a one-row broadcast crossJoin
    and everything else is a per-row projection over a k-element
    literal explode."""
    if k < 1:
        raise ValueError("negative_samples: k must be >= 1")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "n",
            F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])).alias(
                "j"
            ),
        )
    )
    h = F.expr(
        f"cast(conv(substring(md5(concat('{salt}', ':', doc_id, ':', j)), "
        "1, 8), 16, 10) as bigint)"
    )
    return out.select(
        "doc_id",
        F.col("j").cast("long").alias("j"),
        F.pmod(
            F.col("doc_id") + 1 + F.pmod(h, F.col("n") - 1), F.col("n")
        ).alias("neg_id"),
    )


def pii_report(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-source PII audit card: (source, n_docs, n_emails, n_ips,
    n_phones, docs_with_pii) — the compliance rollup a corpus release
    runs BEFORE scrubbing (which sources leak contact data, where to
    focus review).  Counts reuse pii_scrub's exact patterns (same
    precision-first phone rules, spaced pass counted on redacted text
    so one span can't double-count).

    Scale: per-row regexp counting (JVM regex, no shuffle) + one
    map-side-combinable groupBy(source)."""
    t = F.col("text")
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL))
    after_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    n_ips = F.regexp_count(after_email, F.lit(PII_IPV4))
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    after_phone = F.regexp_replace(after_ip, PII_PHONE, "<PHONE>")
    n_phones = F.regexp_count(after_ip, F.lit(PII_PHONE)) + F.regexp_count(
        after_phone, F.lit(PII_PHONE_SPACED)
    )
    per = docs.select(
        F.col(group_col).alias("source"),
        n_emails.cast("long").alias("e"),
        n_ips.cast("long").alias("i"),
        n_phones.cast("long").alias("p"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("e").cast("long").alias("n_emails"),
        F.sum("i").cast("long").alias("n_ips"),
        F.sum("p").cast("long").alias("n_phones"),
        F.sum(
            F.when(F.col("e") + F.col("i") + F.col("p") > 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("docs_with_pii"),
    )


def _tf_df(docs: DataFrame):
    """(tf, dfreq) over whitespace tokens — tf: (doc_id, term, tf),
    dfreq: (term, df).  Shared head of tfidf_cosine_pairs /
    tfidf_stop_terms."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return tf, dfreq


def tfidf_cosine_pairs(
    docs: DataFrame,
    max_df: int = 100,
    threshold_milli: int = 300,
    cache_handle: list | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs via inverted-index self-join
    (the DAAT shape): (doc_a, doc_b, cos_milli) for pairs whose cosine
    over sub-cap terms reaches threshold_milli — the weighted
    complement to jaccard_pairs (set overlap) that a template-heavy
    corpus needs (rare-term agreement counts more than boilerplate).

    All-integer arithmetic end to end: per-term idf is quantized ONCE
    to milli-nats (floor(ln(N/df)*1000) — the unigram_surprisal
    convention, same documented 1-ulp boundary caveat), weights
    w = tf * idf_milli are integers, so dot products and squared norms
    are exact order-free integer sums; norms take _isqrt (exact), and
    cos_milli = dot*1000 div (isqrt(sq_a)*isqrt(sq_b)) — truncation
    ~0.5/norm relative, identical in both engines.  den guarded with
    greatest(...,1): a doc whose every sub-cap term has idf 0 (df = N)
    has sq 0 but also dot 0.  Overflow: w <= tf * 21000 (idf_milli at
    N=1e9); ANSI LongType raises loudly rather than wrapping if a
    pathological doc exceeds sum(w^2) < 2^63 — chunk such docs
    upstream.

    Scale: terms with df > max_df are EXCLUDED from the similarity
    (stop-terms — the jaccard stop-shingle rule; tfidf_stop_terms is
    the loud companion listing them), bounding the self-join fanout at
    df^2 <= max_df^2 per term; the weight table feeds three consumers
    (norms + both join sides) so it is always persisted (_pin, with the
    jaccard cache_handle release contract)."""
    tf, dfreq = _tf_df(docs)
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    idf = (
        dfreq.filter(F.col("df") <= max_df)
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            F.floor(
                F.log(F.col("n").cast("double") / F.col("df").cast("double"))
                * 1000
            )
            .cast("long")
            .alias("idf_milli"),
        )
    )
    w = tf.join(idf, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf_milli")).alias("w")
    )
    w = _pin(w, cache_handle)
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("sq")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, F.col("a.term") == F.col("b.term"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("sq").alias("sq_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("sq").alias("sq_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("na", _isqrt(F.col("sq_a")))
        .withColumn("nb", _isqrt(F.col("sq_b")))
        .selectExpr(
            "doc_a",
            "doc_b",
            "(dot * 1000) div greatest(na * nb, 1) AS cos_milli",
        )
        .filter(F.col("cos_milli") >= threshold_milli)
    )


def tfidf_stop_terms(docs: DataFrame, max_df: int = 100) -> DataFrame:
    """Loud companion to tfidf_cosine_pairs: the (term, df) rows the
    df cap EXCLUDES from the similarity — review this list when tuning
    max_df (the LSH overflow-twin convention: caps must be visible)."""
    _, dfreq = _tf_df(docs)
    return dfreq.filter(F.col("df") > max_df).select("term", "df")


def tfidf_eval(
    docs: DataFrame,
    max_df: int = 100,
    threshold_milli: int = 300,
    max_docs: int = 20_000,
    *,
    force: bool = False,
) -> DataFrame:
    """Measured-not-guessed cost of the tfidf df cap: ONE row (n_true,
    n_cand, n_hit, recall_milli, precision_milli) scoring the SHIPPED
    capped pair producer against the uncapped truth (max_df = 2^40 —
    every term participates; df = N terms carry idf 0 and contribute
    nothing, so 'uncapped' is well-defined).  The eval-row-per-producer
    convention (lsh_eval / embedding_lsh_eval / simhash_eval): a capped
    pair can also score DIFFERENTLY than its uncapped twin (stop terms
    add weight mass), so both misses and spurious survivors are real —
    hence precision too, not just recall.

    Scale: the uncapped truth join is quadratic in the heaviest df —
    refusal-guarded (limit probe) at max_docs; run on a sample and
    extrapolate, or pass force=True and own the volume."""
    if not force:
        _refuse_above(
            docs, max_docs, "tfidf_eval",
            "Run on a sample (the truth join is quadratic in max df)",
        )
    handle: list = []
    cand = (
        tfidf_cosine_pairs(
            docs,
            max_df=max_df,
            threshold_milli=threshold_milli,
            cache_handle=handle,
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    truth = (
        tfidf_cosine_pairs(
            docs,
            max_df=1 << 40,
            threshold_milli=threshold_milli,
            cache_handle=handle,
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    for df in handle:  # eager checkpoints done — release both caches
        df.unpersist()
    n_true = truth.select(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.select(F.count(F.lit(1)).alias("n_cand"))
    n_hit = truth.join(cand, ["doc_a", "doc_b"]).select(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .selectExpr(
            "n_true",
            "n_cand",
            "n_hit",
            "n_hit * 1000 div greatest(n_true, 1) AS recall_milli",
            "n_hit * 1000 div greatest(n_cand, 1) AS precision_milli",
        )
    )


def dedup_components_tfidf(
    docs: DataFrame,
    max_df: int = 100,
    threshold_milli: int = 300,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the TF-IDF cosine graph — the FIFTH
    dedup family's cluster composition (after exact, MinHash, SimHash,
    embedding, prefix): tfidf_cosine_pairs feeds the large-star/
    small-star solver, clustering by weighted-term similarity.  Output:
    (doc_id, component = min doc_id reachable at cos >= threshold),
    every doc covered (singletons label themselves)."""
    handle: list = []
    pairs = tfidf_cosine_pairs(
        docs,
        max_df=max_df,
        threshold_milli=threshold_milli,
        cache_handle=handle,
    )
    # doc_a < doc_b by the join condition; LSS wants (hi, lo)
    edges = pairs.select(
        F.col("doc_b").alias("hi"), F.col("doc_a").alias("lo")
    ).localCheckpoint()
    for df in handle:  # eager checkpoint done — release the weight cache
        df.unpersist()
    return _lss_components(
        docs.select("doc_id"), edges, max_iter, "dedup_components_tfidf"
    )


def quality_by_dup(docs: DataFrame) -> DataFrame:
    """Cross-signal card: exact-duplicate rate per quality verdict —
    (qf_pass, n_docs, n_dup_docs, dup_milli) where qf_pass is the
    quality_filter verdict and a doc is dup when its md5(text) appears
    more than once in the corpus.  The calibration read: if low-quality
    docs are also the duplicated ones, dedup and quality gates overlap
    and the combined survivor rate is NOT the product of the two pass
    rates — this card gives the joint number.

    Scale: one md5 groupBy (map-side combinable, uniform key) joined
    back on the hash, quality columns are row-local expressions, final
    aggregate has 2 rows."""
    q = quality_filter(docs).select(
        "doc_id", F.col("keep").cast("int").alias("qf_pass")
    )
    h = docs.select("doc_id", F.md5("text").alias("h"))
    copies = h.groupBy("h").agg(F.count(F.lit(1)).alias("n_copies"))
    dup = h.join(copies, "h").select(
        "doc_id", (F.col("n_copies") > 1).cast("long").alias("is_dup")
    )
    return (
        q.join(dup, "doc_id")
        .groupBy("qf_pass")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
        )
        .withColumn("dup_milli", F.expr("(n_dup_docs * 1000) div n_docs"))
    )


GRAPH_DRIVER_MAX_EDGES = 1_000_000
"""Adaptive bound for the r6 graph-family driver fast paths (kcore,
LPA, the _lss_components union-find, …): below it the checkpointed edge
list is collected once and the identical integer round semantics run
vectorized in numpy on the driver (component labels are a pure function
of the edge set — no arithmetic convention to preserve; ~16 MB at the
bound, the same order as a broadcast build); above it the distributed
round loops run unchanged.  _collect_within is the only way a graph
operator reaches the driver: edge lists and seed sets alike pass its
cached limit-probe, seed sets under this bound unless their site has
its own (GRAPH_DRIVER_MAX_WORK, random_walks' 100 000 seeds)."""

GRAPH_DRIVER_MAX_WORK = 50_000_000
"""Second bound for the per-seed fast paths (_seed_bfs,
betweenness_approx): edges × seeds must stay under this or the driver
replay would itself become the bottleneck — above it the distributed
landmark loops run unchanged."""


def kcore(edges: DataFrame, k: int = 2, rounds: int = 9) -> DataFrame:
    """k-core of the undirected link graph: iteratively peel nodes with
    degree < k for at most `rounds` synchronous rounds, returning the
    surviving (node, core_deg) — the link-farm / dense-subgraph
    detector (a genuine k-core survives every peel; a tree or chain
    periphery, however large, cannot).  `rounds` must be >= the peel
    depth for the result to BE the k-core; fewer rounds give the exact
    partial peel (each round is deterministic, so cross-engine
    exactness holds either way — the oracle unrolls the same fixed
    rounds).  A round that removes nothing ends the loop early: the
    edge count is strictly decreasing until fixpoint, so an unchanged
    count IS convergence and the skipped rounds are identities.

    Exactness: counts and comparisons only — no division, no floats.

    Scale: per round, one map-side-combinable degree groupBy over the
    current edge set and two left-semi joins (uniform keys; the
    surviving-node side shrinks monotonically so AQE broadcasts it as
    soon as it fits).  localCheckpoint per round — the pagerank
    lesson: without it round r re-executes every prior round's joins
    (and, for an extract_links-fed graph, the DOM parse).  The early
    stop costs one count() per round on the just-checkpointed table —
    O(1) driver latency, no recompute.  Peel depth on web graphs is
    O(log n) in practice; `rounds` bounds the job chain either way."""
    if k < 1:
        raise ValueError("kcore: k must be >= 1")
    cur = _und_edges(edges).localCheckpoint()
    pdf = _collect_within(cur.select("lo", "hi"), GRAPH_DRIVER_MAX_EDGES)
    if pdf is not None:
        # r6 driver fast path (guide §8, the _lss_components pattern):
        # the peel is a pure integer function of the canonical edge
        # list; below the bound the checkpointed edges are collected
        # once and the SAME synchronous rounds (including the
        # unchanged-count early stop) run vectorized in numpy — the
        # round-latency job chain (1 aggregate + 2 semi joins + 1
        # checkpoint + 1 count per round) disappears.  Identical
        # survivors/degrees; parity-tested against the loop below.
        lo = pdf["lo"].to_numpy(dtype=np.int64)
        hi = pdf["hi"].to_numpy(dtype=np.int64)
        n_prev = len(lo)
        for _ in range(rounds):
            both = np.concatenate([lo, hi])
            nodes, counts = np.unique(both, return_counts=True)
            keepn = nodes[counts >= k]
            m = np.isin(lo, keepn) & np.isin(hi, keepn)
            lo, hi = lo[m], hi[m]
            if len(lo) == n_prev:
                break
            n_prev = len(lo)
        both = np.concatenate([lo, hi])
        nodes, counts = np.unique(both, return_counts=True)
        sel = counts >= k
        out = pd.DataFrame(
            {"node": nodes[sel], "core_deg": counts[sel]}, dtype="int64"
        )
        return edges.sparkSession.createDataFrame(
            out, schema="node bigint, core_deg bigint"
        )
    n_edges = cur.count()
    for _ in range(rounds):
        keep = (
            cur.select(F.col("lo").alias("node"))
            .union(cur.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        nxt = (
            cur.join(keep.select(F.col("node").alias("lo")), "lo", "left_semi")
            .join(keep.select(F.col("node").alias("hi")), "hi", "left_semi")
            .select("lo", "hi")
            .localCheckpoint()
        )
        n_nxt = nxt.count()
        cur = nxt
        if n_nxt == n_edges:
            break
        n_edges = n_nxt
    return (
        cur.select(F.col("lo").alias("node"))
        .union(cur.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )


def ktruss(edges: DataFrame, k: int = 4, rounds: int = 4) -> DataFrame:
    """k-truss of the undirected graph (Cohen 2008): iteratively remove
    edges supported by fewer than k-2 triangles (support counted WITHIN
    the surviving subgraph) for at most `rounds` synchronous rounds —
    k-core's edge-level sibling, the cohesion filter that keeps
    communities and drops bridges/chains no matter how dense the
    degrees look.  Returns surviving (lo, hi).  Like kcore, fewer
    rounds than the peel depth give the exact partial peel (each round
    deterministic — the oracle unrolls the same rounds) and an
    unchanged edge count ends the loop early.

    Triangles enumerate once each as lo < mid < hi over the canonical
    edge direction — correct with no double counting; at web scale
    swap in the degree-ordered orientation (triangle_counts' packing)
    so the wedge fan-out is m^1.5-bounded under hub skew.

    Exactness: counts and comparisons only.

    Scale: per round one self-join wedge build + one equi-join close +
    one map-side-combinable support groupBy; localCheckpoint per round
    (the pagerank lesson), one O(1) count() for the early stop."""
    if k < 3:
        raise ValueError("ktruss: k must be >= 3")
    cur = _und_edges(edges).localCheckpoint()
    n_edges = cur.count()
    for _ in range(rounds):
        e1 = cur.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        e2 = cur.select(F.col("lo").alias("a2"), F.col("hi").alias("c"))
        e3 = cur.select(F.col("lo").alias("b2"), F.col("hi").alias("c2"))
        tri = (
            e1.join(
                e2,
                (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c")),
            )
            .join(
                e3,
                (F.col("b") == F.col("b2"))
                & (F.col("c") == F.col("c2")),
            )
            .select("a", "b", "c")
        )
        sup = (
            tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
            .unionAll(
                tri.select(F.col("a").alias("lo"), F.col("c").alias("hi"))
            )
            .unionAll(
                tri.select(F.col("b").alias("lo"), F.col("c").alias("hi"))
            )
            .groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).alias("s"))
        )
        nxt = (
            cur.join(sup, ["lo", "hi"])
            .filter(F.col("s") >= k - 2)
            .select("lo", "hi")
            .localCheckpoint()
        )
        n_nxt = nxt.count()
        cur = nxt
        if n_nxt == n_edges:
            break
        n_edges = n_nxt
    return cur


# label-propagation packing: cnt * 2^32 + (2^32 - 1 - label) under max()
# picks (most-frequent, then MIN label) — the budget_select argmax family
_LPA_SHIFT = 1 << 32


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous deterministic label propagation (Raghavan 2007 with
    the min-label tiebreak) over the undirected graph: label_0(v) = v;
    label_r(v) = the SMALLEST among the most frequent neighbor labels
    at round r-1.  Returns (node, label) after `rounds` rounds — the
    community detector for mirror-cluster / link-ring grouping where
    connected components are too coarse (a single bridge edge merges
    components but cannot outvote a dense community here).

    Determinism/exactness: the per-node argmax is the packed integer
    max(cnt * 2^32 + (2^32 - 1 - label)) — most-frequent first, min
    label on ties; all-integer, order-free.  Per-row raise guards on
    the packing bounds (the latest_snapshot convention): label must
    fit 32 bits unsigned and cnt < 2^31, checked on every aggregate
    row rather than documented — a 2^32+ node id would silently
    corrupt the tiebreak otherwise.

    Scale: per round, one equi-join of the directed-both-ways edge
    table against the (node, label) table (uniform keys, label table
    shrinks to one row per node) and two map-side-combinable groupBys;
    localCheckpoint per round (the pagerank lesson).  Synchronous LPA
    on a bipartite-ish structure can oscillate — `rounds` is a hard
    bound, not a convergence promise (documented; the planted-
    community entry fixture converges in 3)."""
    und = _und_edges(edges).localCheckpoint()
    pdf = _collect_within(und.select("lo", "hi"), GRAPH_DRIVER_MAX_EDGES)
    if pdf is not None:
        # r6 driver fast path (the kcore pattern): synchronous LPA with
        # the packed (cnt DESC, label ASC) argmax is a pure integer
        # function of the edge list — replayed vectorized in numpy with
        # the IDENTICAL vote/tiebreak semantics (lexsort by (node, -cnt,
        # label), first row per node) and the same packing-bound refusal.
        nodes, lc, hc = _factorize(
            pdf["lo"].to_numpy(dtype=np.int64), pdf["hi"].to_numpy(dtype=np.int64)
        )
        if nodes.size and (nodes[0] < 0 or nodes[-1] >= _LPA_SHIFT):
            raise ValueError(
                "label_propagation: packing bounds violated at label "
                f"{nodes[0] if nodes[0] < 0 else nodes[-1]}"
            )
        u = np.concatenate([lc, hc])
        v = np.concatenate([hc, lc])
        lab = nodes.copy()
        for _ in range(rounds):
            vote_lab = lab[v]
            # count votes per (node, label): pack node_idx * 2^32 + label
            packed = u * _LPA_SHIFT + vote_lab
            uniq, cnt = np.unique(packed, return_counts=True)
            if cnt.size and int(cnt.max()) >= (1 << 31):
                raise ValueError(
                    "label_propagation: packing bounds violated (cnt)"
                )
            un = uniq // _LPA_SHIFT
            ul = uniq % _LPA_SHIFT
            order = np.lexsort((ul, -cnt, un))
            un_o, first = np.unique(un[order], return_index=True)
            lab = lab.copy()
            lab[un_o] = ul[order][first]
        out = pd.DataFrame({"node": nodes, "label": lab}, dtype="int64")
        return edges.sparkSession.createDataFrame(
            out, schema="node bigint, label bigint"
        )
    nbr = und.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).union(und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
    lbl = nbr.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    guard = F.when(
        (F.col("label") < 0)
        | (F.col("label") >= _LPA_SHIFT)
        | (F.col("cnt") >= F.lit(1 << 31)),
        F.raise_error(
            F.concat(
                F.lit("label_propagation: packing bounds violated at label "),
                F.col("label").cast("string"),
            )
        ).cast("long"),
    ).otherwise(
        F.col("cnt") * F.lit(_LPA_SHIFT)
        + (F.lit(_LPA_SHIFT - 1) - F.col("label"))
    )
    for _ in range(rounds):
        votes = (
            nbr.join(
                lbl.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        lbl = (
            votes.select("node", guard.alias("packed"))
            .groupBy("node")
            .agg(F.max("packed").alias("packed"))
            .select(
                "node",
                (
                    F.lit(_LPA_SHIFT - 1)
                    - F.pmod(F.col("packed"), F.lit(_LPA_SHIFT))
                ).alias("label"),
            )
            .localCheckpoint()
        )
    return lbl


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """LM-based quality scoring against the corpus's own unigram model
    (the CCNet idea with the corpus standing in for the external LM): per
    document, total and mean token surprisal -ln(count(tok)/total_tokens).
    High mean surprisal ⇒ the doc is unlike the corpus (OOV noise, rare
    boilerplate); low ⇒ generic.

    Exactness: floats summed per doc would depend on row order — instead
    each token's surprisal is quantized driver-free to integer MICRO-NATS
    (floor(-ln(p) * 1e6)), and integers sum exactly in any order; the
    mean is an integer division (Spark div ≡ DuckDB //).  Residual risk,
    stated honestly: the quantization removes ORDER sensitivity, not the
    transcendental itself — JVM Math.log and libm log are each 1-ulp
    accurate but not identical, so a token whose -ln(p)·1e6 lands within
    ~1e-9 of an integer could floor differently across engines (per-token
    probability ~1e-9; grows with vocabulary).  No boundary case exists
    in the shipped fixtures (oracle-green at sf0.001 and sf0.01).

    Scale: one map-side-combinable groupBy builds the unigram table, the
    corpus total rides in as a one-row broadcast crossJoin, and the join
    back is on token — the token_rarity shape with a quantized-log payload
    (the ln runs once per (doc, distinct-token) row, never inside an
    interpreted per-element lambda)."""
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    # per (doc, token) counts so ln() runs once per distinct pair, and the
    # corpus-wide unigram counts from the same stream
    dt = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    uni = dt.groupBy("tok").agg(F.sum("n").alias("cnt"))
    total = uni.select(F.sum("cnt").alias("total_toks"))
    micro = F.floor(
        -F.log(F.col("cnt") / F.col("total_toks")) * F.lit(1_000_000.0)
    ).cast("long")
    joined = dt.join(uni, "tok").crossJoin(F.broadcast(total))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum(F.col("n")).alias("n_tokens"),
            F.sum(F.col("n") * micro).alias("surprisal_micronats"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "surprisal_micronats",
            # integer division (Spark `div` ≡ DuckDB `//` on positives) —
            # no double round-trip, no truncate-vs-round convention at all
            F.expr("surprisal_micronats div n_tokens").alias(
                "mean_micronats"
            ),
        )
    )


def bigram_surprisal(docs: DataFrame, lambda_pct: int = 90) -> DataFrame:
    """Interpolated-bigram LM perplexity scoring (the KenLM-lite tier
    above unigram_surprisal): per document, total and mean surprisal of
    each bigram under p(w2|w1) = λ·c(w1w2)/c(w1·) + (1-λ)·c(w2)/T, with
    the corpus as its own LM (the CCNet filter shape).  The backoff term
    keeps p > 0 for every observed bigram, so ln is always defined.

    Exactness (the unigram_surprisal convention): each bigram type's
    surprisal quantizes to integer micro-nats (floor(-ln(p)·1e6)) and
    integer sums are order-free; the mean is `div`.  The p arithmetic is
    IEEE-exact and parenthesized IDENTICALLY in the DuckDB twin — +,*,/
    are correctly rounded so only ln() itself carries the documented
    ~1-ulp cross-engine residual (a value within ~1e-9·|x| of a floor
    boundary could still flip; none in the shipped fixtures).

    Scale: three map-side-combinable groupBys build the LM tables
    (per-doc bigram types, corpus bigrams, contexts); the context table
    derives from the corpus BIGRAM table (c(w1·) = Σ_w2 c(w1 w2) — rows
    = distinct bigrams, not the token stream); unigrams reuse the same
    stream's w2 side plus each doc's leading token, so T = total tokens
    exactly; totals ride in as one-row broadcast crossJoins; joins are
    on bigram/context/unigram keys — high-cardinality, uniform."""
    if not 1 <= lambda_pct <= 99:
        raise ValueError("lambda_pct must be in [1, 99]")
    bg = _gram_stream(docs, 2)
    dt = bg.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n"))
    big = dt.groupBy("g").agg(F.sum("n").alias("c2"))
    ctx = big.select(
        F.substring_index("g", " ", 1).alias("w1"), "c2"
    ).groupBy("w1").agg(F.sum("c2").alias("c1"))
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w2"))
    uni = tok.groupBy("w2").agg(F.count(F.lit(1)).alias("cu"))
    total = uni.select(F.sum("cu").alias("tt"))
    lam = F.lit(float(lambda_pct))
    p = (
        lam / F.lit(100.0) * (F.col("c2") / F.col("c1"))
        + (F.lit(100.0) - lam) / F.lit(100.0) * (F.col("cu") / F.col("tt"))
    )
    micro = F.floor(-F.log(p) * F.lit(1_000_000.0)).cast("long")
    joined = (
        dt.withColumn("w1", F.substring_index("g", " ", 1))
        .withColumn("w2", F.substring_index("g", " ", -1))
        .join(big, "g")
        .join(ctx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(total))
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") * micro).alias("surprisal_micronats"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "surprisal_micronats",
            F.expr("surprisal_micronats div n_bigrams").alias(
                "mean_micronats"
            ),
        )
    )


def pmi_collocations(
    docs: DataFrame, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-k bigram collocations by pointwise-mutual-information LIFT —
    the multiword-expression miner (tokenizer vocab candidates, named-
    entity seeds) over the corpus bigram stream.

    Exactness (all-integer, no ln): PMI = ln(lift) with
        lift = p(ab) / (p(a)p(b)) = c_ab * tu^2 / (tb * c_a * c_b)
    and ln is monotone, so ranking by integer-staged lift_milli IS the
    PMI ranking with zero transcendentals.  Division order bounds every
    intermediate in LongType AND the truncation error (HLL's
    ordered-division convention):
        x1 = (c_ab * 1000 * tu) div c_a     -- <= 1000*tu; rel err <
                                               1/(1000*min_count)
        x2 = (x1 * tu) div c_b              -- <= 1000*tu^2/c_b
        lift_milli = x2 div tb
    Overflow bound: needs c_ab*1000*tu < 2^63 and 1000*tu^2/c_b < 2^63 —
    fine through ~10^7-token corpora per group; at 100 TB run per-shard
    (the stat is a diagnostics top-k, not a corpus invariant) or raise
    min_count so c_b is large.

    Scale: two map-side-combinable groupBys (bigram, unigram counts);
    the min_count filter lands on the BIGRAM COUNT table before any
    join, so the joins only move surviving collocation candidates;
    totals ride in as one-row broadcasts; top-k is orderBy().limit() →
    TakeOrderedAndProject, rank derived over the k survivors."""
    bg = _gram_stream(docs, 2)
    big = (
        bg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    tok = docs.select(F.explode(F.split("text", " ")).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    tu = uni.select(F.sum("cu").alias("tu"))
    tb = bg.select(F.count(F.lit(1)).alias("tb"))
    ua = uni.select(F.col("w").alias("w1"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("w").alias("w2"), F.col("cu").alias("cb"))
    lifted = (
        big.withColumn("w1", F.substring_index("g", " ", 1))
        .withColumn("w2", F.substring_index("g", " ", -1))
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tu))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("g").alias("bigram"),
            "n_ab",
            F.expr(
                "((n_ab * 1000 * tu) div ca * tu) div cb div tb"
            ).alias("lift_milli"),
        )
    )
    order = [F.col("lift_milli").desc(), F.col("bigram").asc()]
    topk = lifted.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


def bm25_search(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-ranked retrieval (disjunctive): score every doc containing at
    least one query term, return the top-k.  Lucene-form idf
    (ln(1 + (N-df+0.5)/(df+0.5)), never negative) with standard tf/length
    normalization.

    Exactness: each (doc, term) has exactly ONE tf row, so per-term
    contributions come out of conditional aggregates and are added in
    FIXED term order — the float sum can never depend on row order.  Rank
    keys are (round(score,4) DESC, doc_id ASC), the knn convention: both
    engines rank the ROUNDED value, so a sub-4dp drift cannot flip the
    order.

    Scale: the term filter prunes the token stream BEFORE the tf shuffle
    (≤ docs × |terms| rows); N and total length ride in as a ONE-ROW
    broadcast crossJoin; top-k is orderBy().limit(k) —
    TakeOrderedAndProject, never a global window sort — with rank derived
    over the k survivors."""
    uniq = sorted(set(terms))
    if not uniq:
        raise ValueError("bm25_search needs at least one term")
    words = F.split(F.col("text"), " ")
    base = docs.select("doc_id", words.alias("ws"), F.size(words).alias("dl"))
    stats = base.select(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    tok = base.select(
        "doc_id", "dl", F.explode("ws").alias("term")
    ).filter(F.col("term").isin(uniq))
    tf = tok.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfs = (
        base.select(F.explode(F.array_distinct("ws")).alias("term"))
        .filter(F.col("term").isin(uniq))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    joined = tf.join(dfs, "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.lit(1.0 - b) + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col(
        "total_dl"
    )
    contrib = idf * (F.col("tf") * (k1 + 1)) / (F.col("tf") + F.lit(k1) * norm)
    per_term = [
        F.sum(F.when(F.col("term") == t, contrib)).alias(f"__c{i}")
        for i, t in enumerate(uniq)
    ]
    scored = joined.groupBy("doc_id").agg(*per_term)
    score = F.lit(0.0)
    for i in range(len(uniq)):  # fixed addition order, never row order
        score = score + F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
    ranked = scored.select(
        "doc_id", F.round(score, 4).alias("score")
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    topk = ranked.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 8
) -> DataFrame:
    """Training-data chunking: fixed-size token windows with overlap, the
    standard pre-tokenization step before packing sequences.  Entirely
    JVM-side: posexplode the chunk-start sequence, then assemble each chunk
    with a ROW-LEVEL slice/array_join projection (codegen'd) — no
    higher-order lambda (the transform form was 1.5× slower, measured r3,
    identical output), no Python, no shuffle; embarrassingly parallel."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    words = F.split(F.col("text"), " ")
    # start bound size-overlap (not size): a start beyond it yields a chunk
    # FULLY CONTAINED in its predecessor (tail length <= overlap), which
    # would enter training twice (r3 full-file review); greatest(...,1)
    # keeps single-chunk docs
    exploded = docs.select(
        "doc_id",
        words.alias("ws"),
        F.posexplode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size(words) - overlap, F.lit(1)),
                F.lit(step),
            )
        ).alias("chunk_idx", "s"),
    )
    sl = F.slice(F.col("ws"), F.col("s"), F.lit(chunk_tokens))
    return exploded.select(
        "doc_id",
        F.col("chunk_idx"),
        F.size(sl).alias("n_chunk_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    adapted from line/paragraph fractions to the word stream): the count of
    the most frequent word bigram and trigram plus token totals — a
    document dominated by one repeated n-gram is template/spam boilerplate.
    Integer-only (callers derive fractions) so cross-engine checks are
    exact.

    Scale (measured at sf0.1, noop sink): the naive plan shuffles every
    GRAM STRING to its (doc, gram) reducer — ~1.6k grams/doc × the corpus,
    the biggest shuffle in the bench (11.3 s).  Instead, repartition the
    DOCS by doc_id once (one row per doc — megabytes, not the gram
    stream): hash partitioning on doc_id SATISFIES the clustering
    requirement of every downstream groupBy whose keys include doc_id
    (subset-key clustering) and of the doc_id joins, so the gram
    aggregations and the join back to the token totals all run with ZERO
    further Exchange — the one doc shuffle is ReusedExchange'd across the
    four subtrees (plan-audited).  Measured 11.3 s → 2.4 s."""
    words = F.split(F.col("text"), " ")
    rep = docs.select("doc_id", "text").repartition("doc_id")

    def _max_count(order: int, out: str) -> DataFrame:
        per_gram = _gram_stream(rep, order).groupBy("doc_id", "g").agg(
            F.count(F.lit(1)).alias("c")
        )
        return per_gram.groupBy("doc_id").agg(F.max("c").alias(out))

    base = rep.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
    )
    return (
        base.join(_max_count(1, "mu"), "doc_id", "left")
        .join(_max_count(2, "mb"), "doc_id", "left")
        .join(_max_count(3, "mt"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            F.coalesce("mu", F.lit(0)).cast("long").alias("max_unigram_count"),
            F.coalesce("mb", F.lit(0)).cast("long").alias("max_bigram_count"),
            F.coalesce("mt", F.lit(0)).cast("long").alias("max_trigram_count"),
        )
    )


# PII patterns: spelled [0-9] (Spark \\d ≠ DuckDB \\d), lookahead-free so the
# identical pattern runs under Java regex and RE2.  Order matters: emails
# first (their local parts can contain digits), then dotted IPv4 quads, then
# bare digit/hyphen phone runs.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_IPV4 = (
    "[0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?[.]"
    "[0-9][0-9]?[0-9]?[.][0-9][0-9]?[0-9]?"
)
# Precision over recall for a training-corpus scrubber — a missed phone is
# a recall miss, a false redaction is corpus damage (r3 reviews ×2):
#  - NO space inside the pattern (a space-separated digit list
#    "scores: 10 20 30 40" must not merge into one <PHONE>);
#  - a phone is either a CONTIGUOUS 8-15 digit run or 3-6 digit groups
#    joined by ()/- separators — a single hyphenated pair like the year
#    range "2010-2020" is NOT redacted (one separator is not a phone).
#    Known accepted FP: ISBN-like 4+-group hyphenations look like phones.
PII_PHONE = "[+]?[0-9]{8,15}|[+]?[(]?[0-9]{1,4}([()\\-][0-9]{1,4}){2,5}"

# Spaced phones (r3 verdict #6) — precision-first: every alternative is
# anchored on a leading-zero group or an international +, because the
# spaced-format locales (JP 090 1234 5678 / 03 1234 5678, FR 06 12 34 56 78,
# UK 020 7946 0958) all dial with a leading 0, while the digit LISTS the r2
# trap protects ("scores were 10 20 30 40 points") virtually never start a
# token with 0.  Shapes: fully-spaced single digits (≥8 digits total),
# pair-groups (0X + 4 pairs), 0-prefix + two 3-4 digit groups, and
# +CC + 2-4 groups.  \b is ASCII word boundary in BOTH Java regex and
# DuckDB's RE2 (no lookahead — RE2 has none).  A leading-zero enumeration
# ("0 1 2 3 4 5 6 7") is the documented residual false-positive; a
# NON-zero-led spaced phone ("90 1234 5678") is the documented recall miss.
PII_PHONE_SPACED = (
    "\\b0(( [0-9]){7,13}"
    "|[0-9]( [0-9]{2}){4}"
    "|[0-9]{1,3}( [0-9]{3,4}){2})\\b"
    "|[+][0-9]{1,3}( [0-9]{1,4}){2,4}\\b"
)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora: emails → <EMAIL>, IPv4 → <IP>,
    phone-like digit runs → <PHONE> (contiguous/hyphenated AND the
    zero-anchored spaced shapes — see PII_PHONE_SPACED), with per-kind
    match counts (the audit trail a compliance pipeline needs).  Pure
    regexp_replace/regexp_count — JVM-side, embarrassingly parallel, no
    shuffle.  The spaced pass runs LAST on already-redacted text so the
    two phone patterns cannot double-count one span."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL))
    after_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    n_ips = F.regexp_count(after_email, F.lit(PII_IPV4))
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    after_phone = F.regexp_replace(after_ip, PII_PHONE, "<PHONE>")
    n_phones = F.regexp_count(after_ip, F.lit(PII_PHONE)) + F.regexp_count(
        after_phone, F.lit(PII_PHONE_SPACED)
    )
    clean = F.regexp_replace(after_phone, PII_PHONE_SPACED, "<PHONE>")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        n_emails.cast("int").alias("n_emails"),
        n_ips.cast("int").alias("n_ips"),
        n_phones.cast("int").alias("n_phones"),
    )


def chunk_hash_dedup(
    docs: DataFrame, chunk_tokens: int = 32, overlap: int = 0
) -> DataFrame:
    """C4-style span-level dedup: chunk every document (reusing
    chunk_documents), md5 each chunk, and mark a chunk duplicated when the
    same hash appears anywhere else in the corpus (other doc OR other
    offset).  Downstream filters drop is_dup_chunk=1 rows from training
    batches without touching the unique remainder of the document —
    finer-grained than whole-doc dedup, the standard mid-ground.

    Scale: one shuffle keyed on the chunk hash (md5 — uniform); the
    per-hash count broadcasts back via the aggregate join.  No windows."""
    chunks = chunk_documents(docs, chunk_tokens=chunk_tokens, overlap=overlap)
    hashed = chunks.select(
        "doc_id", "chunk_idx", F.md5(F.col("chunk_text")).alias("chunk_hash")
    )
    freq = hashed.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        hashed.join(freq, "chunk_hash")
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_hash",
            (F.col("n_copies") > 1).cast("int").alias("is_dup_chunk"),
        )
    )


def substring_dedup_spans(
    docs: DataFrame, k: int = 4, min_grams: int = 2, min_copies: int = 2
) -> DataFrame:
    """Exact-substring dedup spans — the FIFTH dedup family (r3 verdict
    #10), the Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" operation re-shaped for Spark: a single global suffix
    array is inherently sequential, but its OUTPUT — every maximal
    duplicated substring — is equivalently found as maximal runs of
    consecutive duplicated token k-grams.  A run of L consecutive shared
    k-gram positions is an exact duplicated substring of L+k-1 tokens;
    with min_grams=m this detects precisely the duplicated substrings of
    >= m+k-1 tokens (tune k+min_grams-1 where Lee et al. use 50).

    "Duplicated" = the k-gram occurs >= min_copies times corpus-wide,
    other doc OR other offset — the chunk_hash_dedup convention, and the
    suffix-array semantics (a substring repeated within one document is a
    duplicate).  Output: (doc_id, run_start, n_grams, span_tokens) per
    maximal run, positions 0-based token offsets.

    Exactness: md5 gram keys + integer positions + the pos−row_number
    island trick — no floats anywhere.

    Scale: the gram stream is the measured-fast arrays_zip form
    (_gram_stream); duplication is ONE map-side-combinable groupBy on the
    md5 key (uniform — no skew guard needed, unlike raw shingles) + a
    semi join back; run detection is a window PARTITIONED BY doc_id
    (high cardinality, never a global sort).  Fixture-free of the
    suffix-array's O(corpus) memory: state per task is one partition of
    grams."""
    grams = _gram_stream(docs, k, with_pos=True).select(
        "doc_id", "pos", F.md5(F.col("g")).alias("gh")
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") >= min_copies)
        .select("gh")
    )
    shared = grams.join(dup, "gh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        shared.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("run_start"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_grams)
        .select(
            "doc_id",
            "run_start",
            "n_grams",
            (F.col("n_grams") + F.lit(k - 1)).cast("long").alias("span_tokens"),
        )
    )


def substring_scrub(
    docs: DataFrame, k: int = 4, min_grams: int = 2, min_copies: int = 2
) -> DataFrame:
    """Apply substring_dedup_spans: drop every token covered by a
    duplicated run and rebuild the text.  Policy: ALL occurrences are
    removed (not keep-first) — keep-first needs a global occurrence
    order, which would reintroduce exactly the total-order dependence
    this module's order-free conventions exist to avoid; Lee et al. keep
    one copy, so this is the stricter variant, stated openly.

    Rebuild is lambda-free (the r3 interpreted-transform trap): kept
    tokens aggregate as array_sort(collect_list(struct(pos, tok))) and
    the token field is pulled with GetArrayStructFields (`st.tok`), both
    codegen'd.  Coverage is a doc_id join + range filter (runs per doc
    are few); fully-scrubbed docs survive with empty text via the left
    join from the original corpus."""
    spans = substring_dedup_spans(docs, k, min_grams, min_copies)
    # r6 (the repetition_signals lesson): repartition the DOC rows by
    # doc_id ONCE — hash clustering on doc_id (a subset of every
    # downstream key) satisfies the covered distinct, the anti-join and
    # the rebuild groupBy, so the exploded token stream itself never
    # crosses an exchange (previously it shuffled twice: once for the
    # (doc_id, pos) anti-join, once for the rebuild aggregate).
    rep = docs.select("doc_id", "text").repartition("doc_id")
    toks = rep.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    covered = (
        toks.join(spans, "doc_id")
        .filter(
            (F.col("pos") >= F.col("run_start"))
            & (F.col("pos") < F.col("run_start") + F.col("span_tokens"))
        )
        .select("doc_id", "pos")
        .distinct()
    )
    # per-doc covered-position ARRAY instead of a (doc_id, pos)
    # anti-join: joins only co-partition when partitioned on ALL join
    # keys (requireAllClusterKeysForCoPartition), so the anti-join
    # re-shuffled the full token stream on (doc_id, pos) — the doc_id
    # array join + codegen'd array_contains keeps every stage in the
    # one doc_id clustering (runs per doc are few, the membership scan
    # is O(spans) per token)
    cov_arr = covered.groupBy("doc_id").agg(
        F.collect_list("pos").alias("__cps")
    )
    kept = (
        toks.join(cov_arr, "doc_id", "left")
        .filter(
            F.col("__cps").isNull() | ~F.array_contains("__cps", F.col("pos"))
        )
        .select("doc_id", "pos", "tok")
    )
    agg = kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("st"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    rebuilt = agg.select(
        "doc_id",
        F.concat_ws(" ", F.col("st.tok")).alias("clean_text"),
        F.col("n_kept"),
    )
    orig = rep.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_orig")
    )
    return orig.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept_tokens"),
        (F.col("n_orig") - F.coalesce("n_kept", F.lit(0).cast("long"))).alias(
            "n_removed_tokens"
        ),
    )


def train_split_assign(
    docs: DataFrame, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Deterministic train/val/test assignment by content-free hash bucket:
    bucket = first byte of md5(doc_id) (0-255), split on integer
    thresholds.  Hash-based (not rand()) so the split is reproducible
    across runs, engines, and repartitions — the property a training
    pipeline actually needs from its split.  No shuffle (narrow projection).
    """
    if val_pct + test_pct >= 100:
        raise ValueError("val_pct + test_pct must be < 100")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    train_max = 256 * (100 - val_pct - test_pct) // 100
    val_max = 256 * (100 - test_pct) // 100
    return docs.select(
        "doc_id",
        bucket.alias("split_bucket"),
        F.when(bucket < train_max, "train")
        .when(bucket < val_max, "val")
        .otherwise("test")
        .alias("split"),
    )


def zipf_fit(docs: DataFrame, top_n: int = 256) -> DataFrame:
    """Zipf's-law fit: OLS of ln(freq) on ln(rank) over the top_n most
    frequent terms — the data-card vocabulary-shape statistic (natural
    text slopes near -1; templated/synthetic or boilerplate-heavy
    corpora diverge, so the slope is a cheap corpus-drift alarm).

    Exactness: ln runs ONCE per surviving term and quantizes to integer
    deci-milli-nats (floor(ln(v)*1e4) — the unigram_surprisal micro-nat
    convention scaled so the OLS cross-products stay in LongType:
    n*Σxy <= top_n^2 * (1.4e5)^2 ~ 1.3e15 at top_n=256); every sum and
    cross-product after that is integer and order-free.  The divisions
    keep every operand POSITIVE (Spark div truncates, DuckDB // floors
    — they agree only on non-negatives, the r4 lesson):
        s_abs = (|num| * 1000) div max(den div 1000, 1)
        slope_micro = -s_abs  when num < 0
        intercept_micro = (sy*100 -/+ (s_abs*sx*100) div 1e6
                           + B*n) div n - B     with B = 2^40 >> |inner|/n
    Residual: ln's own ~1-ulp cross-engine wiggle at floor boundaries
    (documented in unigram_surprisal; none in the shipped fixtures).

    Scale: one map-side-combinable term-count groupBy; top_n survives
    via orderBy().limit() → TakeOrderedAndProject (never a corpus
    sort); the rank window covers only the top_n rows; one single-row
    aggregate ends the plan."""
    if top_n < 2:
        raise ValueError("top_n must be >= 2 (OLS needs distinct ranks)")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("tok").asc()]
    top = uni.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)
    ranked = top.withColumn("rank", F.row_number().over(w).cast("long"))
    q = F.lit(10_000.0)
    pts = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * q)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * q)
        .cast("long")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return sums.selectExpr(*_ols_micro_exprs("n_terms"))


def _ols_micro_exprs(n_alias: str) -> list:
    """The zipf_fit signed-OLS selectExpr tail over a one-row aggregate
    holding (n, sx, sy, sxy, sxx): slope_micro + intercept_micro with
    every div operand POSITIVE (sign peeled on the slope numerator,
    +B*n offset on the intercept mean — the r4 truncate-vs-floor
    lesson).  Shared by zipf_fit and heaps_fit; the SQL twin is
    `_ols_tail_sql` in __spark_entry__ — keep both in sync."""
    B = 2**40
    sabs = (
        "(abs(n * sxy - sx * sy) * 1000)"
        " div greatest((n * sxx - sx * sx) div 1000, 1)"
    )
    return [
        f"n AS {n_alias}",
        f"CASE WHEN n * sxy - sx * sy < 0 THEN -({sabs}) "
        f"ELSE ({sabs}) END AS slope_micro",
        # inner = sy*100 - slope*sx*100, staged with positive divisions
        # and the +B*n offset so the final div sees positive operands
        f"(sy * 100 "
        f" + CASE WHEN n * sxy - sx * sy < 0 THEN "
        f"     (({sabs}) * sx * 100) div 1000000 "
        f"   ELSE "
        f"     -((({sabs}) * sx * 100) div 1000000) "
        f"   END + {B} * n) div n - {B} AS intercept_micro",
    ]


def vocab_growth(
    docs: DataFrame, cutoffs: tuple[int, ...] = (125, 250, 500, 1000)
) -> DataFrame:
    """(cutoff, vocab, tokens): vocabulary-growth curve — distinct token
    count over growing doc_id-ordered corpus prefixes, the Heaps-law
    observability metric (a curve that flattens early signals a
    templated/duplicated corpus; tokenizer sizing reads vocab at the
    training-set cutoff).

    Scale: NEVER a per-prefix distinct scan and never a cutoff×token
    join — one groupBy(token) keeps each token's FIRST doc (min doc_id,
    map-side combinable), then ALL cutoffs are conditional sums in ONE
    aggregate pass over that token table (one row per distinct token,
    tiny vs the corpus); cumulative token totals ride one aggregate over
    the exploded stream.  The two 1-row aggregates cross-join (the benign
    one-row BroadcastNestedLoopJoin pattern) and unpivot via an inline
    struct array.  Adding a cutoff costs one column, not one scan."""
    cuts = sorted(int(c) for c in cutoffs)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return _growth_curve(toks, cuts, col="tok")


def _growth_curve(toks: DataFrame, cuts: list, col: str) -> DataFrame:
    """(cutoff, vocab, tokens) over an exploded (doc_id, <col>)
    occurrence stream — the vocab_growth body, factored so heaps_fit
    can run the same one-pass conditional-sum plan over n-gram
    streams (the 31-unigram fixture saturates instantly — the
    good_turing vacuous-fixture rule)."""
    firsts = toks.groupBy(col).agg(F.min("doc_id").alias("first_doc"))
    vrow = firsts.agg(
        *[
            F.sum((F.col("first_doc") < c).cast("long")).alias(f"__v{i}")
            for i, c in enumerate(cuts)
        ]
    )
    trow = toks.agg(
        *[
            F.sum((F.col("doc_id") < c).cast("long")).alias(f"__t{i}")
            for i, c in enumerate(cuts)
        ]
    )
    packed = vrow.crossJoin(trow).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("long").alias("cutoff"),
                        F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias("vocab"),
                        F.coalesce(F.col(f"__t{i}"), F.lit(0)).alias("tokens"),
                    )
                    for i, c in enumerate(cuts)
                ]
            )
        ).alias("s")
    )
    return packed.select("s.cutoff", "s.vocab", "s.tokens")


def stopword_lists(
    docs: DataFrame, min_df_pct: int = 60, group_col: str = "lang"
) -> DataFrame:
    """Per-group stopword candidates: tokens appearing in at least
    min_df_pct% of the group's documents — the data-derived stop list
    feeding stop-shingle caps, BM25 pruning and boilerplate heuristics
    (a per-language list beats a shipped English one on a multilingual
    corpus).

    (grp, tok, df, n_docs): df = documents containing the token.
    Threshold is the integer cross-multiplication df*100 >=
    min_df_pct*n_docs.

    Scale: one distinct on (group, doc, token) — map-side combinable,
    bounded by docs x distinct-tokens-per-doc; one groupBy on
    (group, token); the per-group doc counts ride in via a broadcast
    join on the group key (groups = languages, tiny)."""
    if not 1 <= min_df_pct <= 100:
        raise ValueError("min_df_pct must be in [1, 100]")
    dt = (
        docs.select(
            F.col(group_col).alias("grp"),
            "doc_id",
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .distinct()
    )
    dfreq = dt.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        dfreq.join(F.broadcast(nd), "grp")
        .filter(F.col("df") * 100 >= F.lit(min_df_pct) * F.col("n_docs"))
        .select("grp", "tok", "df", "n_docs")
    )


def shard_skew_report(docs: DataFrame, n_shards: int = 32) -> DataFrame:
    """Writer-skew audit for a hash-sharded output: per-shard row and
    byte counts under the epoch_shuffle shard convention
    (first-8-hex(md5('epoch0:'||doc_id)) % n_shards), plus the global
    skew ratio max_bytes*1000 div mean_bytes stamped on every row —
    the pre-flight check before a 100 TB write (a shard at 3x mean is
    a straggler task and an oversized output file).

    Bytes = octet_length of text (UTF-8 octets — the WET
    Content-Length convention), so the number is what the writer
    actually emits, not a char count.

    The mean divides by n_shards — the WRITER'S shard count — not by
    the number of occupied cells: in the degenerate case this audit
    exists to catch (every doc hashing into one shard), an
    occupied-cell mean would report skew 1.000 'balanced' while 31
    empty shards go undetected (r5 s4 review finding).

    Scale: one map-side-combinable groupBy(shard); the one-row global
    aggregate rides back as a broadcast crossJoin."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string")))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long"),
        F.lit(n_shards),
    )
    per = (
        docs.select(
            shard.alias("shard"),
            F.octet_length("text").cast("long").alias("b"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("b").alias("n_bytes"),
        )
    )
    tot = per.select(
        F.max("n_bytes").alias("__mx"),
        F.sum("n_bytes").alias("__tb"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_rows",
        "n_bytes",
        F.expr(
            f"__mx * 1000 div greatest(__tb div {n_shards}, 1)"
        ).alias("skew_milli"),
    )


def epoch_shuffle_plan(
    docs: DataFrame, n_shards: int = 64, seed: str = "epoch0"
) -> DataFrame:
    """(doc_id, shard, pos): a seeded GLOBAL SHUFFLE plan for one training
    epoch — the ordering op write_training_shards deliberately lacks (it
    orders by doc_id for resume identity; a training run also needs epoch
    order DECORRELATED from ingest order so consecutive batches don't
    share a crawl host or date).  key = md5(seed:doc_id) is a
    deterministic pseudo-random permutation: shard = first-8-hex-digits
    integer % n_shards (even in expectation), pos = rank of key within
    the shard.  Reshuffling an epoch = change the seed; reproducing one =
    reuse it — never rand() (the train_split_assign rule).

    Scale: ONE hash-partitioned exchange on shard + a within-partition
    sort (the window partitions by shard, so no global sort and no
    single-partition choke); everything else is a narrow md5 projection.
    Cross-engine exactness: hex strings compare identically as ASCII in
    Spark and DuckDB, and keys are unique per doc (doc_id is appended to
    the ORDER BY as a formal tiebreak anyway)."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
    )
    keyed = docs.select(
        "doc_id", shard.alias("shard"), key.alias("__k")
    )
    w = Window.partitionBy("shard").orderBy("__k", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def group_topk_sample(
    docs: DataFrame,
    k: int = 10,
    group_col: str = "lang",
    seed: str = "sample0",
) -> DataFrame:
    """(doc_id, <group_col>, rk): a deterministic FIXED-k sample per group
    — the eval-set / inspection-sample builder.  stratified_sample keeps
    an expected FRACTION per stratum (md5-bucket threshold, no shuffle);
    this op keeps exactly min(k, |group|) rows per group, which needs a
    rank and therefore one exchange on the group key.  Rank order is the
    md5(seed:doc_id) permutation — reproducible across runs, engines and
    repartitions, never rand() (the train_split_assign rule); rk is the
    1-based rank so callers can tighten to any k' ≤ k without resampling.

    Scale: window partitioned by the group column — per-group sort, no
    global sort.  Group skew equals data skew on group_col; for a
    pathological mega-group the md5-threshold pre-filter trick (keep only
    keys below ~(k/|group|-quantile)) bounds the sort input, documented
    here rather than built in because k is tiny in practice."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", group_col, key.alias("__k"))
    w = Window.partitionBy(group_col).orderBy("__k", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("doc_id", group_col, "rk")
    )


def pack_sequences(
    docs: DataFrame, capacity: int = 256, n_groups: int = 32
) -> DataFrame:
    """Streaming sequence packing: assign documents to fixed-token-budget
    training bins.  Docs are split into n_groups independent packing
    streams by md5 bucket (deterministic, engine-portable); within a
    stream, docs are taken in doc_id order and bin_id = floor(tokens-so-far
    / capacity) — the standard streaming approximation of first-fit (a doc
    may straddle a bin boundary; bins hold ≈capacity tokens).

    Scale: the running sum windows on group (orderBy doc_id) — n_groups
    bounds the parallelism of the packing stage AND the per-task row count,
    so size it like shuffle partitions: at 10^12 docs on 1000 executors,
    n_groups in the tens of thousands keeps each stream's sort+scan at
    ~10^7-10^8 rows per task.  Each stream is an independent sequential
    pack, which is exactly the semantics packing needs (a GLOBAL order
    would serialize the corpus through one task; packing quality is
    unaffected by the number of streams since bins never span streams)."""
    words = F.split(F.col("text"), " ")
    # 8 hex digits (2^32 values), not one byte: a single-byte hash caps the
    # distinct groups at 256 no matter what n_groups asks for — at the
    # documented tens-of-thousands-of-streams scale that silently funnels
    # ~n/256 rows through each window task (r3 full-file review)
    group = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(n_groups),
    ).cast("int")
    sized = docs.select(
        "doc_id", group.alias("pack_group"), F.size(words).alias("n_tokens")
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return sized.select(
        "doc_id",
        "pack_group",
        "n_tokens",
        F.floor(cum_before / capacity).cast("long").alias("bin_id"),
    )


def winnowing_fingerprints(
    docs: DataFrame, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS algorithm): hash every word k-gram, slide a w-window over the
    hash sequence, keep each window's minimum; the DISTINCT selected
    (position, hash) pairs are the fingerprint set.  Guarantees any shared
    substring of ≥ w+k-1 words produces a shared fingerprint — the
    shift-tolerant dedup primitive between exact hashing and MinHash.

    Ties break to the LEFTMOST minimal hash via an integer composite key
    (hash * 2^31 + pos): hash < 2^32 so the key tops out below 2^63 —
    exact bigint arithmetic on both engines for documents up to 2^31
    k-grams (a 2-billion-word document; the 2^16 shift of an earlier draft
    silently corrupted fingerprints past position 65,535).  Scale: one
    explode + one window partitioned on doc_id (high cardinality) +
    distinct — no joins."""
    if w < 1:
        raise ValueError("w must be >= 1")
    grams = _gram_stream(docs, k, with_pos=True)
    h = F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
    keyed = grams.select(
        "doc_id", "pos", (h * F.lit(2147483648) + F.col("pos")).alias("key")
    )
    win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    winners = keyed.select(
        "doc_id",
        F.min("key").over(win).alias("wkey"),
        F.count(F.lit(1)).over(win).alias("wn"),
    ).filter(F.col("wn") == w)  # complete windows only (the 2003 definition)
    return (
        winners.select("doc_id", "wkey")
        .distinct()
        .select(
            "doc_id",
            (F.col("wkey") % 2147483648).cast("int").alias("fp_pos"),
            # shiftright, not floor(x / 2^31): double division is only
            # exact below 2^53 and wkey legitimately reaches 2^63
            F.shiftright(F.col("wkey"), 31).alias("fp_hash"),
        )
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup via content-hash groupBy: rank copies, keep rank 1.
    Scale: shuffles on md5(text) — uniformly distributed, no skew."""
    h = F.md5(F.col("text"))
    w = Window.partitionBy(h).orderBy("doc_id")
    return docs.select(
        "doc_id",
        h.alias("content_hash"),
        F.row_number().over(w).alias("copy_rank"),
    ).withColumn("is_duplicate", (F.col("copy_rank") > 1).cast("int"))


def _gram_stream(
    src: DataFrame,
    n: int,
    with_pos: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id[, *carry][, pos], g): the exploded word n-gram stream of
    `text`.

    Built WITHOUT higher-order lambdas (measured r3, sf0.1 noop: the
    transform-based gram array costs 5.1 s where this form costs 0.8 —
    sre-style per-element interpretation again): arrays_zip the word array
    with its shifted slices (plain JVM array ops), explode the struct
    stream, and assemble the gram with a codegen'd row-level concat_ws
    AFTER the explode.  Tail structs whose last field is null (incomplete
    n-tuples) are filtered out; intermediate fields can't be null because
    the zipped arrays are suffixes of the same word array.

    carry: extra src columns to keep on every gram row (e.g. a group key
    for per-group sketches) — riding them through the explode is free,
    where a join back to src on doc_id would add a corpus-wide shuffle."""
    keep = ["doc_id", *carry]
    words = F.split(F.col("text"), " ")
    if n == 1:
        if with_pos:
            return src.select(
                *keep, F.posexplode(words).alias("pos", "g")
            )
        return src.select(*keep, F.explode(words).alias("g"))
    arrs = [words] + [
        F.slice(words, i + 1, F.greatest(F.size(words) - i, F.lit(1)))
        for i in range(1, n)
    ]
    z = F.arrays_zip(*arrs)
    fields = [F.col("s").getItem(str(i)) for i in range(n)]
    filtered = src.filter(F.size(words) >= n)
    if with_pos:
        exploded = filtered.select(
            *keep, F.posexplode(z).alias("pos", "s")
        )
        return exploded.filter(fields[n - 1].isNotNull()).select(
            *keep, "pos", F.concat_ws(" ", *fields).alias("g")
        )
    exploded = filtered.select(*keep, F.explode(z).alias("s"))
    return exploded.filter(fields[n - 1].isNotNull()).select(
        *keep, F.concat_ws(" ", *fields).alias("g")
    )


def shingles(docs: DataFrame, n: int = 3, dedup: bool = True) -> DataFrame:
    """Word n-gram shingles; dedup=True gives DISTINCT (doc_id, shingle).

    Honest-measurement note (round 2, noop sink): deduping with
    array_distinct BEFORE the explode looks shuffle-free but loses ~2× —
    Spark evaluates higher-order functions interpreted per element and
    array_distinct is quadratic on string arrays, while the post-explode
    .distinct() shuffle dedups in codegen'd hash aggregation.  Consumers
    whose aggregate is duplicate-insensitive (MinHash: min over a multiset
    equals min over the set) pass dedup=False and skip the cost entirely."""
    sh = _gram_stream(docs, n).withColumnRenamed("g", "shingle")
    return sh.distinct() if dedup else sh


def minhash_signatures(docs: DataFrame, k: int = 4, n: int = 3) -> DataFrame:
    """MinHash: k independent permutations simulated by md5(seed:shingle);
    the signature element is the lexicographic min (md5 is uniform, so min
    over the hex string is a valid minwise hash — and it is reproducible in
    any engine with md5, unlike xxhash64).

    Plan notes (measured with full evaluation, round 2):
     - min over a multiset equals min over the set, so the shingle stream
       is NOT deduplicated here — no distinct shuffle at all; map-side
       combine reduces the stream to docs × k minima before the exchange;
     - an array_min(transform(md5)) "no-shuffle" formulation is ~5× slower
       (higher-order functions evaluate interpreted per element; the
       explode + groupBy(min) runs md5 inside whole-stage codegen)."""
    sh = shingles(docs, n=n, dedup=False)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_membership(
    docs: DataFrame, k: int, n: int, sig: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band, bucket): MinHash band-bucket membership, band size 2.
    ONE projection over the signature aggregate (a barrier Catalyst cannot
    inline band expressions through) — the single source of the bucket
    hash for minhash_lsh_buckets AND dedup_components_minhash, so the two
    can never drift apart (r3 review: a copy-paste divergence would have
    made the components join silently match nothing).

    sig: pass a precomputed (e.g. localCheckpointed) minhash_signatures
    frame to share the signature aggregation with a consumer that also
    joins the raw signatures (minhash_jaccard_est)."""
    if sig is None:
        sig = minhash_signatures(docs, k=k, n=n)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat(F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}"))).alias(
                    "bucket"
                ),
            )
            for b in range(k // 2)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_buckets(
    docs: DataFrame,
    k: int = 4,
    n: int = 3,
    max_bucket_size: int | None = None,
    membership: DataFrame | None = None,
) -> DataFrame:
    """LSH banding (band size 2): docs sharing a band bucket are near-dup
    candidates.  Emits candidate buckets with >1 member.  Scale: the
    band-bucket groupBy shuffles on the banded hash — high cardinality.

    max_bucket_size (VERDICT r2 #3): a degenerate bucket (boilerplate-heavy
    corpus where thousands of docs share a band) makes the downstream
    |bucket|² candidate join quadratic again.  With the cap set, buckets
    larger than it are EXCLUDED from this candidate feed — the same skew
    guard as jaccard_pairs' max_shingle_freq.  Dropped buckets are not
    silent: `minhash_lsh_overflow` returns them as a queryable DataFrame
    so a pipeline materializes the overflow count alongside the pairs.

    membership: pass a precomputed _band_membership frame (e.g. a
    persisted one) to share the signature aggregation with another
    consumer — dedup_components_minhash does, so bucket semantics can
    never drift between the candidate feed and the components join."""
    if k % 2:
        raise ValueError(
            "k must be even (band size 2) — an odd k would pay for a "
            "signature element the bands silently ignore"
        )
    out = (
        (membership if membership is not None else _band_membership(docs, k, n))
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )
    if max_bucket_size is not None:
        out = out.filter(F.col("n_docs") <= max_bucket_size)
    return out


def minhash_lsh_overflow(
    docs: DataFrame,
    k: int = 4,
    n: int = 3,
    *,
    max_bucket_size: int,
    membership: DataFrame | None = None,
) -> DataFrame:
    """The buckets minhash_lsh_buckets DROPS under max_bucket_size — the
    loud side of the skew guard.  A pipeline materializes this next to the
    candidate feed; a non-empty result is the signal to raise band bits or
    investigate boilerplate.

    max_bucket_size is REQUIRED (keyword-only) and must be the SAME value
    the paired candidate producer was called with — a defaulted cap here
    would report buckets as "dropped" that an uncapped producer kept
    (r3 review finding).  Pass the shared persisted `membership` frame to
    avoid recomputing the corpus-wide signature aggregation when run
    alongside the candidate feed."""
    full = minhash_lsh_buckets(
        docs, k=k, n=n, max_bucket_size=None, membership=membership
    )
    return full.filter(F.col("n_docs") > max_bucket_size)


def minhash_jaccard_est(
    docs: DataFrame,
    k: int = 4,
    n: int = 3,
    max_bucket_size: int | None = 100,
) -> DataFrame:
    """Signature-based Jaccard ESTIMATE for LSH candidate pairs: for every
    within-bucket pair (doc_a < doc_b) of the banded MinHash index, the
    fraction of equal signature components — the Broder estimator
    E[matches/k] = J(a,b).  This is the triage step between the cheap
    bucket feed and the expensive exact verify (ngram_jaccard_pairs): at
    100 TB you rank candidates by the estimate and exact-verify only the
    top slice, never touching the shingle streams of the rest.

    Output: (doc_a, doc_b, matches, est_jaccard_micro) with the estimate
    quantized to integer micro-units (matches·1e6 div k) — order-free and
    cross-engine exact (no float division).

    Skew/scale: candidate pairs come only from buckets with 1 < size ≤
    max_bucket_size (the standard loud-overflow cap — pair volume stays
    O(Σ cap·bucket) instead of quadratic); signatures are k fixed columns
    so the per-pair compare is a column expression, never an array or a
    per-element lambda.  The signature aggregate is always
    localCheckpointed because FIVE consumers reference it (membership →
    sizes, both self-join sides, and the two signature joins) — the
    simhash_neardup_pairs lesson: without it the corpus-wide aggregation
    re-executes per consumer (ReusedExchange does not fire across these
    shapes)."""
    if k % 2:
        raise ValueError("k must be even (band size 2)")
    sig = minhash_signatures(docs, k=k, n=n).localCheckpoint()
    mem = _band_membership(docs, k, n, sig=sig)
    ok = (
        mem.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    if max_bucket_size is not None:
        ok = ok.filter(F.col("n_docs") <= max_bucket_size)
    pairs = (
        mem.alias("a")
        .join(mem.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .join(ok.select("band", "bucket"), ["band", "bucket"], "left_semi")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(k)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(k)],
    )
    matches = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(k)
    ).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.alias("matches"))
        .withColumn(
            "est_jaccard_micro", F.expr(f"(matches * 1000000) div {k}")
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    k: int = 4,
    n: int = 3,
    corpus_membership: DataFrame | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: classify each INCOMING doc against an
    EXISTING corpus — 'exact' (content hash already in the corpus), 'near'
    (shares a MinHash band bucket with any corpus doc), else 'keep'.  This
    is the path a continuously-fed 100 TB corpus actually runs: the new
    crawl batch is small, the corpus is not, and re-running whole-corpus
    dedup per batch would be quadratic over time.

    Exact takes precedence over near.  Duplicates WITHIN the incoming
    batch are out of scope — run dedup_exact/minhash banding on the batch
    itself for that; this operator only answers "is it new vs the corpus".

    Scale: two semi-join probes, both shuffling on uniformly-distributed
    hashes (md5 content hash; md5 band bucket) — the corpus side is NEVER
    broadcast (it is the 100 TB side) and never re-aggregated beyond a
    distinct that is map-side combinable.  In production the corpus's
    distinct (hash) and (band, bucket) sets are precomputed once and
    bucketed on their join keys; pass `corpus_membership` (a persisted
    _band_membership frame) to model that — incoming membership is always
    computed fresh because the batch is new data."""
    ch = corpus.select(F.md5(F.col("text")).alias("content_hash")).distinct()
    inc = incoming.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
    exact = (
        inc.join(ch, "content_hash", "left_semi")
        .select("doc_id")
        .withColumn("__exact", F.lit(1))
    )
    cb = (
        corpus_membership
        if corpus_membership is not None
        else _band_membership(corpus, k, n)
    ).select("band", "bucket").distinct()
    near = (
        _band_membership(incoming, k, n)
        .join(cb, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__near", F.lit(1))
    )
    verdict = (
        F.when(F.col("__exact").isNotNull(), F.lit("exact"))
        .when(F.col("__near").isNotNull(), F.lit("near"))
        .otherwise(F.lit("keep"))
    )
    return (
        incoming.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select("doc_id", verdict.alias("verdict"))
    )


def _eval_counts_card(
    truth: DataFrame, cand: DataFrame, keys: list[str]
) -> DataFrame:
    """ONE-row (n_true, n_cand, n_hit, recall_milli, precision_milli)
    from a truth and a candidate pair set — shared by lsh_eval /
    simhash_eval / embedding_lsh_eval (r6).  The r5 form ran three
    separate count jobs (truth, cand, truth⋈cand) and crossJoined the
    scalars; one FULL OUTER join on the pair key + one aggregate
    computes the same three counts in a single pass (n_hit = Σ ia·ib ≡
    the inner-join count; sums COALESCEd so the empty-sets edge still
    reports zeros, the dedup_agreement convention)."""
    t = truth.select(*keys, F.lit(1).alias("__ia"))
    c = cand.select(*keys, F.lit(1).alias("__ib"))
    m = t.join(c, keys, "outer").select(
        F.coalesce("__ia", F.lit(0)).alias("ia"),
        F.coalesce("__ib", F.lit(0)).alias("ib"),
    )
    counts = m.agg(
        F.coalesce(F.sum("ia"), F.lit(0)).cast("long").alias("n_true"),
        F.coalesce(F.sum("ib"), F.lit(0)).cast("long").alias("n_cand"),
        F.coalesce(F.sum(F.col("ia") * F.col("ib")), F.lit(0))
        .cast("long")
        .alias("n_hit"),
    )
    return counts.selectExpr(
        "n_true",
        "n_cand",
        "n_hit",
        "n_hit * 1000 div greatest(n_true, 1) AS recall_milli",
        "n_hit * 1000 div greatest(n_cand, 1) AS precision_milli",
    )


def lsh_eval(
    docs: DataFrame,
    num: int = 1,
    den: int = 2,
    k: int = 4,
    n: int = 3,
    max_bucket_size: int = 100,
    min_intersection: int = 2,
    max_shingle_freq: int = 100,
) -> DataFrame:
    """Measured-not-guessed LSH quality: ONE row (n_true, n_cand, n_hit,
    recall_milli, precision_milli) scoring the MinHash band-bucket
    candidate pair set against the exact shingle-Jaccard join at
    threshold num/den — the calibration every 'LSH recall is fine'
    claim should come from, computed IN the engine over the actual
    corpus instead of quoted from a paper.

    Honesty note: `truth` is the SHIPPED exact-join config (stop-shingle
    cap, min_intersection prefilter included) and `cand` the shipped
    bucket producer with its skew cap — this row measures the deployed
    producer pair against each other, which is what the downstream
    dedup consumes.  Threshold is the integer cross-multiplication
    den*intersection >= num*union (the jaccard_prefix convention).

    Scale: candidate pairs come from capped buckets (bounded volume);
    the truth join is the documented exact-join path (refusal-guarded
    upstream); the three counts reduce to one row via one-row
    crossJoins — no collect."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # r6 (guide §2.6 overlap independent jobs): the candidate chain
    # (band membership → buckets → self-join) and the truth chain
    # (shingle self-join at threshold) are independent eager-checkpoint
    # builds — running them from two driver threads lets one chain's
    # tasks back-fill the other's stragglers.  Results identical.
    def _build_cand():
        mem = _pin(_band_membership(docs, k, n))
        ok = minhash_lsh_buckets(
            docs, k=k, n=n, max_bucket_size=max_bucket_size, membership=mem
        ).select("band", "bucket")
        a = mem.select("band", "bucket", F.col("doc_id").alias("doc_a"))
        b = mem.select("band", "bucket", F.col("doc_id").alias("doc_b"))
        out = (
            a.join(ok, ["band", "bucket"])
            .join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .localCheckpoint()  # eager — membership materialized into it
        )
        mem.unpersist()
        return out

    def _build_truth():
        handle: list = []
        out = (
            jaccard_pairs(
                docs,
                n=n,
                min_intersection=min_intersection,
                max_shingle_freq=max_shingle_freq,
                cache_handle=handle,
            )
            .filter(
                F.col("intersection") * den >= F.col("union_sz") * num
            )
            .select("doc_a", "doc_b")
            .localCheckpoint()  # eager — shingle cache materialized into it
        )
        for df in handle:
            df.unpersist()
        return out

    # inheritable_thread_target: each thread's jobs keep the caller's
    # job group and tags
    spark = docs.sparkSession
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_cand = ex.submit(inheritable_thread_target(spark)(_build_cand))
        f_truth = ex.submit(inheritable_thread_target(spark)(_build_truth))
        cand, truth = f_cand.result(), f_truth.result()
    return _eval_counts_card(truth, cand, ["doc_a", "doc_b"])


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    min_intersection: int = 2,
    max_shingle_freq: int = 100,
    cache_handle: list | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via shingle self-join.

    Integer-only output (intersection, union sizes) — float-free for
    cross-engine verification.  Skew guard: shingles occurring in more than
    `max_shingle_freq` docs are dropped (stop-shingles) so the self-join
    can't quadratically blow up on a common phrase at 100 TB.

    The shingle set feeds three branches (freq, candidate join, sizes), so
    it is always persisted.  Measured with FULL evaluation (noop sink — the
    earlier count()-based numbers that favored recomputation were hollow),
    the MEMORY_AND_DISK cache wins already at sf0.1 (5.2-6.1s vs 5.8-8.3s)
    and wins harder at scale.

    cache_handle (ADVICE r2): the persisted shingle DataFrame stays pinned
    until GC/ContextCleaner because this function cannot know when the lazy
    result is materialized.  Callers that DO materialize (dedup_components,
    bench loops) pass a list here; the persisted handle is appended so they
    can .unpersist() it afterwards.
    """
    return _pair_intersections(
        docs, n, min_intersection, max_shingle_freq, cache_handle
    ).select(
        "doc_a",
        "doc_b",
        "intersection",
        (F.col("sz_a") + F.col("sz_b") - F.col("intersection")).alias("union_sz"),
    )


def _pair_intersections(
    docs: DataFrame,
    n: int,
    min_intersection: int,
    max_shingle_freq: int,
    cache_handle: list | None,
) -> DataFrame:
    """(doc_a, doc_b, intersection, sz_a, sz_b) — the shared shingle
    self-join core of jaccard_pairs and containment_pairs (integer-only;
    sizes over the same stop-filtered universe as the intersection —
    the r3 deflation fix)."""
    sh = _pin(shingles(docs, n=n), cache_handle)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(
        freq.filter(F.col("df") <= max_shingle_freq).select("shingle"), "shingle"
    )
    # sizes over the SAME stop-filtered universe as the intersection —
    # mixing rare-only intersections with all-shingle sizes deflates the
    # implied Jaccard of boilerplate-heavy near-dups (two identical docs
    # whose overlap is partly stop-shingles scored 0.43 instead of 1.0;
    # r3 full-file review)
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = rare.alias("a")
    b = rare.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("intersection"))
        .filter(F.col("intersection") >= min_intersection)
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: tuple[int, int] = (7, 10),
    min_intersection: int = 2,
    max_shingle_freq: int = 100,
    cache_handle: list | None = None,
) -> DataFrame:
    """Broder CONTAINMENT near-dup pairs: max(|A∩B|/|A|, |A∩B|/|B|) =
    |A∩B| / min(|A|, |B|) ≥ threshold.  Catches the asymmetric case
    Jaccard misses — a short doc embedded verbatim in a much longer one
    (quote farms, syndication with appended boilerplate, page + page-with-
    comments): J = inter/union stays tiny when |B| ≫ |A| even though A is
    fully contained.  threshold is a rational (num, den); the filter is
    integer cross-multiplication den·inter ≥ num·min(sz_a, sz_b) — no
    float, cross-engine exact.  Output (doc_a, doc_b, intersection,
    sz_a, sz_b) integer-only; the consumer derives both directional
    containments from the sizes.

    Scale: the same skew-guarded shingle self-join as jaccard_pairs
    (stop-shingles above max_shingle_freq dropped, so a common phrase
    cannot quadratically blow up the join); candidate volume is bounded
    by sum(df²) over kept shingles, independent of the containment
    threshold.  Note the prefix filter used by jaccard_prefix_pairs is
    NOT sound for containment (it bounds Jaccard, and containment has no
    size lower-bound to prune with), hence the frequency-capped join."""
    num, den = threshold
    pairs = _pair_intersections(
        docs, n, min_intersection, max_shingle_freq, cache_handle
    )
    return pairs.filter(
        F.lit(int(den)) * F.col("intersection")
        >= F.lit(int(num)) * F.least("sz_a", "sz_b")
    ).select("doc_a", "doc_b", "intersection", "sz_a", "sz_b")


def sentence_split(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sent_pos, sentence): naive-rule sentence segmentation —
    a boundary after terminal punctuation ([.!?]) followed by whitespace
    — the upstream of sequence packing / per-sentence dedup / alignment.
    DELIBERATELY rule-naive (no abbreviation list: 'Dr. Smith' splits) —
    the rule is engine-portable and deterministic, which a corpus op
    needs more than linguistic perfection; swap the regex for a smarter
    boundary model without touching the pipeline shape.  sent_pos is the
    0-based position in the raw split (stable even after empty-piece
    filtering); sentences are trimmed, empties dropped.

    Scale: one regexp_replace (boundary marker U+0001 — control chars
    are stripped by the extraction pipeline upstream, so no collision)
    + posexplode; narrow, shuffle-free.  Whitespace spelled [ \\t\\n\\r]
    — never \\s (Spark≠DuckDB class semantics, the [0-9] rule)."""
    marked = F.regexp_replace(
        F.col(text_col), "([.!?])[ \t\n\r]+", "$1\x01"
    )
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(marked, "\x01")).alias("sent_pos", "raw"),
        )
        .select("doc_id", "sent_pos", F.trim("raw").alias("sentence"))
        .filter(F.col("sentence") != "")
    )


def lang_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_sents, n_cjk_sents, n_latin_sents, pred_lang, is_mixed):
    per-SENTENCE language profile — each sentence_split sentence is
    classified with lang_id's char classes (CJK count vs Latin count,
    tie → latin), then folded per doc: pred_lang = majority sentence
    label (tie → latin, matching lang_id's doc-level convention) and
    is_mixed = 1 when the minority label holds ≥ 20% of sentences
    (integer form 5·min ≥ n_sents).  Catches code-switched and
    template-mixed pages a doc-level char count mislabels — the corpus
    -curation gate before routing docs to per-language pipelines.

    Docs whose text yields zero sentences (empty/whitespace) drop out —
    the sentence_split contract.  Integer-only output; one groupBy on
    doc_id (map-side combinable), classification is a narrow regexp
    projection per sentence."""
    sents = sentence_split(docs, text_col)
    cjk = F.length(F.regexp_replace("sentence", f"[^{CJK_CLASS}]", ""))
    latin = F.length(F.regexp_replace("sentence", "[^a-zA-Z]", ""))
    per = sents.select(
        "doc_id", F.when(cjk > latin, 1).otherwise(0).alias("is_cjk")
    )
    n = F.count(F.lit(1))
    nc = F.sum("is_cjk")
    return per.groupBy("doc_id").agg(
        n.cast("long").alias("n_sents"),
        nc.cast("long").alias("n_cjk_sents"),
        (n - nc).cast("long").alias("n_latin_sents"),
        F.when(2 * nc > n, "cjk").otherwise("latin").alias("pred_lang"),
        (5 * F.least(nc, n - nc) >= n).cast("int").alias("is_mixed"),
    )


def surt_key(url_col: str = "url"):
    """Column expression: SURT (Sort-friendly URI Reordering Transform)
    key — 'com,example,www)/path?query' — the Common Crawl / OpenWayback
    CDX convention that makes one domain's URLs (and all its subdomains'
    suffixes) lexicographically contiguous, so a sorted index range-scans
    a site.  Convention here: host lowercased, userinfo/port/trailing-dot
    stripped, labels reversed and comma-joined; path+query keep their
    case (RFC 3986 — they are case-sensitive); fragment dropped; empty
    path → '/'.  Schemeless inputs yield NULL (the canonicalize_urls
    lesson: collapsing non-URLs into one key is a false merge)."""
    u = F.col(url_col)
    host = F.regexp_replace(
        F.lower(
            F.regexp_replace(
                F.regexp_extract(
                    u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
                ),
                "^[^@]*@|:[0-9]*$",
                "",
            )
        ),
        "[.]$",
        "",
    )
    rest = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    path = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(
        host != "",
        F.concat(
            F.array_join(F.reverse(F.split(host, "[.]")), ","),
            F.lit(")"),
            path,
        ),
    )


def cdx_index(
    snaps: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    digest_col: str = "digest",
    shards: int | None = None,
) -> DataFrame:
    """(surt, ts, digest, url): a CDX-style capture index over crawl
    snapshots — the lookup structure every wayback/dedup/recrawl workflow
    queries ('all captures of this URL/prefix, in time order').

    Scale: the projection is narrow and shuffle-free; pass `shards` to
    ALSO materialize the canonical CDX layout — repartitionByRange(surt,
    ts) + sortWithinPartitions — which makes each output shard a sorted,
    binary-searchable run exactly like cdx-*.gz files (the range
    partitioner runs one sampling pass, the documented cost of a global
    order at scale; without `shards` no such job runs)."""
    base = snaps.select(
        surt_key(url_col).alias("surt"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(digest_col).alias("digest"),
        F.col(url_col).alias("url"),
    )
    if shards is not None:
        base = base.repartitionByRange(shards, "surt", "ts").sortWithinPartitions(
            "surt", "ts"
        )
    return base


def table_kv(cells: DataFrame) -> DataFrame:
    """(url, table_idx, row_idx, key, value): header-keyed attribute
    pairs from extracted table cells (plans.pipeline.extract_tables) —
    the infobox/spec-sheet shape a training pipeline wants from
    structured pages.  Header = the <th> cells of row 0; each later
    row's cells join to their header by col_idx.  Tables WITHOUT a
    header row produce nothing (inner join — there is no key to name
    the values); a data row wider than the header keeps only the keyed
    columns.

    Scale: one equi-join on (url, table_idx, col_idx) — the header side
    is one row per table COLUMN (tiny vs the cell stream, usually
    broadcast by AQE); both sides project off the same extraction
    output, so no second page scan."""
    headers = cells.filter(
        (F.col("row_idx") == 0) & (F.col("is_header") == 1)
    ).select("url", "table_idx", "col_idx", F.col("cell").alias("key"))
    data = cells.filter(F.col("row_idx") > 0).select(
        "url", "table_idx", "row_idx", "col_idx", F.col("cell").alias("value")
    )
    return data.join(headers, ["url", "table_idx", "col_idx"]).select(
        "url", "table_idx", "row_idx", "key", "value"
    )


SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", "A-Za-zÀ-ɏ"),
    ("cjk", "぀-ヿ㐀-䶿一-鿿"),
    ("hangul", "ᄀ-ᇿ㄰-㆏가-힯"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
]
"""Script classes for script_profile, PRIORITY-ORDERED (main_script ties
resolve to the earlier entry).  BMP-only ranges so char-counting semantics
agree across engines; both Java regex and RE2 accept literal-codepoint
ranges inside a character class, so ONE definition feeds the Spark
patterns and the DuckDB oracle."""


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_latin, n_cjk, n_hangul, n_cyrillic, n_greek, n_arabic,
    n_digit, n_space, n_other, main_script): per-doc Unicode script
    composition — the multilingual-corpus router (which tokenizer, which
    lexicon, which lang-ID prior) and the mixed-script spam signal
    (latin+cyrillic lookalike stuffing).  Counts are codepoint counts per
    SCRIPT_CLASSES range; main_script is the priority-ordered argmax over
    the script counts ('none' when all are zero).

    Scale: a pure narrow projection — each count is
    length(text) − length(regexp_replace(text, '[class]', '')), all
    JVM-side codegen, no UDF, no shuffle; at 100 TB this pipelines with
    the parquet scan."""
    t = F.col(text_col)
    total = F.length(t)
    counts = {
        name: (total - F.length(F.regexp_replace(t, f"[{cls}]", "")))
        .cast("long")
        .alias(f"n_{name}")
        for name, cls in SCRIPT_CLASSES
    }
    n_digit = (total - F.length(F.regexp_replace(t, "[0-9]", ""))).cast(
        "long"
    )
    n_space = (
        total - F.length(F.regexp_replace(t, "[ \t\n\r]", ""))
    ).cast("long")
    base = docs.select(
        "doc_id",
        total.cast("long").alias("__total"),
        *counts.values(),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
    )
    script_cols = [F.col(f"n_{name}") for name, _ in SCRIPT_CLASSES]
    mx = F.greatest(*script_cols)
    main = F.when(mx == 0, F.lit("none"))
    for name, _ in SCRIPT_CLASSES:
        main = main.when(F.col(f"n_{name}") == mx, F.lit(name))
    n_other = F.col("__total") - F.col("n_digit") - F.col("n_space")
    for name, _ in SCRIPT_CLASSES:
        n_other = n_other - F.col(f"n_{name}")
    return base.select(
        "doc_id",
        *[f"n_{name}" for name, _ in SCRIPT_CLASSES],
        "n_digit",
        "n_space",
        n_other.alias("n_other"),
        main.alias("main_script"),
    )


def paragraph_dedup(docs: DataFrame, id_bound: int = 2**43) -> DataFrame:
    """(doc_id, text_dedup, n_kept, n_removed): corpus-level EXACT
    paragraph dedup, FIRST occurrence wins — the RefinedWeb/Falcon
    paragraph-granularity pass: a trimmed non-empty paragraph survives
    iff it is the globally first occurrence of that exact string in
    (doc_id, pos) order; every later occurrence — across docs AND
    repeats inside one doc — is removed.  Distinct from
    scrub_boilerplate_lines: onion removal drops a corpus-frequent line
    from EVERY doc (frequency-thresholded); this keeps exactly one copy
    of everything, threshold-free.  Row count never changes; a doc whose
    every paragraph is a later duplicate survives with text_dedup = ''.

    Scale: the winner per paragraph is min(doc_id·2^20 + pos) — ONE
    map-side-combinable groupBy over the exploded stream, no window, no
    join-back for decode; survivors are an equality join of the stream
    against the winner table on the paragraph (stream-sized, AQE decides
    the strategy); reassembly is the scrub_boilerplate_lines
    array_sort-of-structs shape.  Packing bounds (pos < 2^20 paragraphs
    per doc, 0 ≤ doc_id < 2^43) are refused PER ROW with raise_error —
    an out-of-bounds occurrence must never silently lose dedup."""
    lim = 1 << 20
    lines = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "raw")
        )
        .select("doc_id", "pos", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
    )
    packed = F.when(
        (F.col("pos") < lim)
        & (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit(id_bound)),
        F.col("doc_id") * lim + F.col("pos"),
    )
    stream = lines.select(
        "doc_id",
        "pos",
        "line",
        F.when(
            packed.isNull(),
            F.raise_error(
                F.lit(
                    "paragraph_dedup: doc_id/pos outside packing bounds "
                    f"(0 <= doc_id < {id_bound}, pos < 2^20) — re-pack "
                    "with a wider shift"
                )
            ).cast("long"),
        )
        .otherwise(packed)
        .alias("__p"),
    )
    winners = stream.groupBy("line").agg(F.min("__p").alias("__w"))
    kept = (
        stream.join(winners, "line")
        .filter(F.col("__p") == F.col("__w"))
        .select("doc_id", "pos", "line")
    )
    n_lines = (
        docs.select("doc_id")
        .join(
            stream.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("__n")
            ),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("__n", F.lit(0)).alias("__n"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_dedup"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    return n_lines.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("__n") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
    )


def dedup_components_prefix(
    docs: DataFrame,
    threshold: tuple[int, int] = (3, 5),
    max_prefix_df: int | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over the EXACT similarity join: the
    jaccard_prefix_pairs edge set → large-star/small-star components —
    the dedup clustering to run when the threshold must be a GUARANTEE
    (every pair with J ≥ t is an edge; the LSH families trade that for
    bounded candidate volume).  Same output contract as the other
    dedup_components_* ((doc_id, component = min id)); same loud-cap
    story via max_prefix_df (a capped run's missed edges are exactly the
    pairs whose every shared prefix token overflowed — disclosed by
    jaccard_prefix_overflow).

    Scale: edge volume equals the true near-dup pair count — on a
    Zipf-vocabulary corpus that is sparse and this is the right tool; on
    a degenerate dense corpus the TRUTH is quadratic and no exact method
    outputs it faster (the jaccard_prefix_pairs measurement note) — use
    the LSH families there."""
    handle: list = []
    pairs = jaccard_prefix_pairs(
        docs, threshold, max_prefix_df=max_prefix_df, cache_handle=handle
    )
    edges = (
        pairs.select(F.col("doc_b").alias("hi"), F.col("doc_a").alias("lo"))
        .localCheckpoint()
    )
    for df in handle:
        df.unpersist()
    return _lss_components(docs, edges, max_iter, "dedup_components_prefix")


def dedup_components_editdist(
    docs: DataFrame,
    max_d: int = 1,
    q: int = 2,
    max_iter: int = 25,
    text_col: str = "text",
) -> DataFrame:
    """Connected components over the EXACT edit-distance join — the
    editdist family's clustering row (every other pair family has one):
    editdist_pairs edges → large-star/small-star components, same
    output contract ((doc_id, component = min id), isolated docs label
    themselves).  Use where the threshold is a typo/OCR-noise GUARANTEE
    (titles, URLs, short fields) — the jaccard families own long-text
    near-dup."""
    handle: list = []
    pairs = editdist_pairs(
        docs, max_d=max_d, q=q, text_col=text_col, cache_handle=handle
    )
    edges = (
        pairs.select(F.col("doc_b").alias("hi"), F.col("doc_a").alias("lo"))
        .localCheckpoint()
    )
    for df in handle:
        df.unpersist()
    return _lss_components(docs, edges, max_iter, "dedup_components_editdist")


def nfc_normalize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text_nfc, changed): Unicode NFC normalization (UAX #15)
    — the canonical-composition pass a multilingual corpus needs before
    any exact/hash dedup (decomposed 'e'+U+0301 and composed U+00E9 are
    the same text to a reader but different bytes to every dedup key,
    tokenizer, and n-gram op in this package).  changed ∈ {0,1} flags
    rows the pass actually rewrote, so callers can measure how dirty a
    crawl slice is.

    Engine exactness: Python's unicodedata and DuckDB's nfc_normalize
    both implement UAX #15 canonical composition (verified on combining
    marks, singleton decompositions like U+212B, and Hangul jamo) — the
    oracle hash-checks real normalization output, not a stub.

    Scale: the UDF is the slow path by design rule, so it is an
    Arrow-batched pandas UDF (never row-at-a-time) with a PER-ROW ASCII
    fast path inside the batch: NFC is the identity on ASCII, and
    str.isascii is a C-level scan, so clean English crawl slices pay one
    vectorized mask instead of a per-char normalization.  Narrow
    projection, no shuffle."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        mask = s.map(lambda x: x is not None and not x.isascii())
        if not mask.any():
            return s
        out = s.copy()
        out[mask] = s[mask].map(lambda x: unicodedata.normalize("NFC", x))
        return out

    out = docs.select(
        "doc_id",
        F.col(text_col).alias("__orig"),
        _nfc(F.col(text_col)).alias("text_nfc"),
    )
    return out.select(
        "doc_id",
        "text_nfc",
        (F.col("text_nfc") != F.col("__orig")).cast("int").alias("changed"),
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: tuple[int, int] = (3, 5),
    max_prefix_df: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """(doc_a, doc_b, intersection, union_sz): EVERY pair of docs whose
    word-set Jaccard ≥ threshold — EXACT, no false negatives, unlike the
    minhash/simhash/embedding LSH producers.  The scale trick is AllPairs
    /PPJoin prefix filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08):
    under one global token order (document-frequency ASC, token ASC —
    rarest first), any two sets with J ≥ t share a token within their
    first |x| − ceil(t·|x|) + 1 tokens, so only PREFIX tokens are
    self-joined; the survivors are verified with an exact intersection
    count.  threshold is a RATIONAL (num, den) and every comparison is an
    integer cross-multiplication (den·inter ≥ num·union) — float-free,
    engine-exact, same convention as quality_filter.

    Scale: candidate volume is Σ_prefix-tokens df², orders of magnitude
    below jaccard_pairs' all-(rare-)shingle self-join because prefixes
    hold each doc's RAREST tokens; the verify stage touches candidate
    pairs only.  A size-ratio prune (den·min(|A|,|B|) ≥ num·max —
    provably implied by J ≥ t) drops unverifiable candidates before the
    intersection join.  Skew guard: max_prefix_df drops prefix tokens
    with df above the cap from BOTH sides (the minhash loud-cap
    convention — pairs whose only shared prefix token was dropped are
    lost; jaccard_prefix_overflow discloses exactly which tokens and how
    many docs are affected).  The per-doc sorted (df, tok) array table is
    always pinned — it feeds the prefix explode and both verify branches
    (the jaccard_pairs persist rule)."""
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError(f"threshold must be a rational in (0,1]: {threshold}")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(freq, "tok")
    # r6 plan shape: ONE groupBy(doc_id) collects the per-doc token set
    # sorted by (df ASC, tok ASC) — the SAME total order the r5
    # row_number window used (tok unique per doc, so the order is
    # total).  Per-doc size, the prefix (a slice of the sorted array)
    # and the verify array are all projections of this single aggregate;
    # the r5 form computed each separately (a sizes aggregate + join, a
    # row_number window with its own exchange + corpus-wide sort, and a
    # third collect_list aggregation).  Two arrays from the one
    # aggregate: the (df, tok)-sorted struct array feeds the prefix
    # slice; the PLAIN string array feeds the verify array_intersect
    # (string arrays keep array_intersect's hash-set fast path — struct
    # arrays fall back to pairwise equality, measured 2x slower
    # end-to-end).
    docarr = (
        ranked.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("__sa"),
            F.collect_list("tok").alias("__arr"),
        )
        .select(
            "doc_id", "__sa", "__arr", F.size("__sa").cast("long").alias("sz")
        )
    )
    docarr = _pin(docarr, cache_handle)
    # prefix length p = sz − ceil(num·sz/den) + 1, all-integer ceil
    # integer ceil via div (Spark div ≡ DuckDB // on positives)
    p = F.expr(f"sz - (({num} * sz + {den} - 1) div {den}) + 1")
    pref = docarr.select(
        "doc_id", "sz", F.explode(F.slice("__sa", F.lit(1), p)).alias("__s")
    ).select(
        "doc_id",
        "sz",
        F.col("__s.df").alias("df"),
        F.col("__s.tok").alias("tok"),
    )
    if max_prefix_df is not None:
        pref = pref.filter(F.col("df") <= max_prefix_df)
    pa = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "tok"
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "tok"
    )
    cand = (
        pa.join(pb, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            den * F.least("sz_a", "sz_b") >= num * F.greatest("sz_a", "sz_b")
        )
        .select("doc_a", "doc_b", "sz_a", "sz_b")
        .distinct()
    )
    # verify with per-pair array_intersect over each doc's token SET
    # (collected once) — row volume stays |candidates|, never
    # |candidates| x |tokens|: the original pair-x-token verify join
    # exploded to ~10^9 intermediate rows on a dense corpus (measured
    # 128 s at 5k docs / 31-word vocab; this form: see BENCH notes)
    # the verify arrays are the SAME persisted docarr's PLAIN string
    # token array __arr, not the (df, tok) struct array __sa: both count
    # token-set intersections exactly (df is functionally dependent on
    # tok), but a struct array would lose array_intersect's hash-set
    # fast path
    inter = (
        cand.join(
            docarr.select(F.col("doc_id").alias("doc_a"), F.col("__arr").alias("__aa")),
            "doc_a",
        )
        .join(
            docarr.select(F.col("doc_id").alias("doc_b"), F.col("__arr").alias("__ab")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("__aa", "__ab")).cast("long").alias(
                "intersection"
            ),
        )
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("intersection")
    return (
        inter.filter(den * F.col("intersection") >= num * union_sz)
        .select("doc_a", "doc_b", "intersection", union_sz.alias("union_sz"))
    )


def jaccard_prefix_overflow(
    docs: DataFrame,
    threshold: tuple[int, int] = (3, 5),
    max_prefix_df: int = 100,
) -> DataFrame:
    """(tok, df): the prefix tokens jaccard_prefix_pairs DROPS under
    max_prefix_df — the loud-cap companion (minhash convention).  A pair
    is lost only if EVERY shared prefix token is listed here; an empty
    result certifies the capped run was still exact."""
    num, den = threshold
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(freq, "tok").join(sizes, "doc_id")
    # integer ceil via div (Spark div ≡ DuckDB // on positives)
    p = F.expr(f"sz - (({num} * sz + {den} - 1) div {den}) + 1")
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") <= p) & (F.col("df") > max_prefix_df))
        .select("tok", "df")
        .distinct()
    )


def _editdist_grams(
    docs: DataFrame, q: int, text_col: str = "text"
) -> DataFrame:
    """(doc_id, glen, gram) distinct positional-free q-gram stream with a
    PER-ROW raise_error refusal for strings shorter than q — a string with
    zero q-grams can never meet a join partner, so admitting one would
    silently lose its pairs (the paragraph_dedup refusal contract).
    glen = number of DISTINCT q-grams of the string (the count-filter
    denominator)."""
    grams = _editdist_gram_stream(docs, q, text_col)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("glen"))
    return grams.join(sizes, "doc_id")


def _editdist_gram_stream(
    docs: DataFrame, q: int, text_col: str = "text"
) -> DataFrame:
    """(doc_id, gram): the distinct positional-free q-gram stream with
    the per-row short-string refusal — the raw head of _editdist_grams
    (r6: editdist_pairs consumes this directly and derives glen from
    its fused per-doc aggregate instead of the sizes join)."""
    return docs.select(
        "doc_id",
        F.when(
            F.length(text_col) < q,
            F.raise_error(
                F.lit(
                    f"editdist_pairs: a string shorter than q={q} has no "
                    "q-grams and would silently lose every pair — filter "
                    "short strings out or lower q"
                )
            ).cast("int"),
        )
        .otherwise(F.length(text_col) - q + 1)
        .alias("__n"),
        F.col(text_col).alias("__t"),
    ).select(
        "doc_id",
        F.explode(
            F.expr(f"transform(sequence(1, __n), i -> substring(__t, i, {q}))")
        ).alias("gram"),
    ).distinct()


def editdist_pairs(
    docs: DataFrame,
    max_d: int = 1,
    q: int = 2,
    max_prefix_df: int | None = None,
    text_col: str = "text",
    max_short: int = 10_000,
    cache_handle: list | None = None,
    *,
    force: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, dist): EVERY pair of strings within Levenshtein edit
    distance ≤ max_d — EXACT, the string-edit sibling of
    jaccard_prefix_pairs.  The scale trick is the ED-Join q-gram prefix
    filter (Gravano et al. VLDB'01 count filtering; Xiao et al. PVLDB'08
    prefix form): one edit destroys at most q of a string's q-grams, so
    under set semantics |grams(a) \\ grams(b)| ≤ q·max_d whenever
    ed(a,b) ≤ max_d, and two qualifying strings MUST share a gram within
    their first L = q·max_d + 1 grams under one strict global gram order
    (document-frequency ASC, gram ASC — rarest first).  Only prefix grams
    are self-joined; survivors pass (1) the length filter
    |len_a − len_b| ≤ max_d, (2) the count filter
    |common grams| ≥ max(glen_a, glen_b) − q·max_d via one per-pair
    array_intersect (the jaccard_prefix verify shape — row volume stays
    |candidates|), and (3) the exact levenshtein(a, b) ≤ max_d verify —
    Spark's levenshtein is codegen'd JVM with an early-exit threshold
    form, and agrees with DuckDB's on every codepoint (both count unicode
    codepoints; the oracle fixture stays ASCII regardless).

    The prefix guarantee needs ≥ L DISTINCT grams per string — a
    repetitive string ('aaaaa' has ONE distinct 3-gram) can sit within
    distance d of a gram-disjoint partner (found by the brute-force
    parity test, q=3/d=2), so strings with glen < L are routed through an
    exact LENGTH-BANDED side path instead: each short string joins every
    string whose length is within max_d (2·max_d+1 equality joins via a
    sequence explode) and goes straight to the levenshtein verify.  Both
    paths are lossless; their union is the exact answer.  The short side
    is guarded with the knn_bruteforce limit-probe refusal (max_short,
    force=True to override) because its candidate volume is
    |short| × strings-per-length-band.

    Scale: candidate volume is Σ_prefix-grams df² with prefixes holding
    each string's RAREST grams — a shared boilerplate prefix ('qq…') lands
    at the END of the order and never joins.  This targets SHORT strings
    (titles, URLs, entity names); for document bodies use the shingle
    producers.  Skew guard: max_prefix_df drops prefix grams with df
    above the cap from BOTH sides (jaccard_prefix loud-cap convention —
    editdist_overflow discloses the dropped grams; a pair is lost only if
    EVERY shared prefix gram is capped)."""
    if max_d < 1:
        raise ValueError(f"max_d must be >= 1: {max_d}")
    # r6 (the jaccard_prefix fusion): ONE groupBy(doc_id) over the
    # df-annotated gram stream yields glen, the (df ASC, gram ASC)
    # prefix slice AND the verify array — the r5 form computed each
    # separately (sizes aggregate + join, row_number window with its
    # own exchange, third collect_list aggregation).
    grams0 = _editdist_gram_stream(docs, q, text_col)
    freq = grams0.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = grams0.join(freq, "gram")
    docarr = (
        ranked.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "gram"))).alias("__sa"),
            F.collect_list("gram").alias("__arr"),
        )
        .select(
            "doc_id", "__sa", "__arr", F.size("__sa").cast("long").alias("glen")
        )
    )
    # the per-doc array table feeds the prefix, the verify arrays and the
    # short-side probe (the jaccard_prefix persist rule), so it is always
    # pinned: warm-session alternating A/B at sf0.1 measured 4.5/6.4/12.6 s
    # pinned vs 8.0/17.9/35.9 s recomputed
    docarr = _pin(docarr, cache_handle)
    lens = docs.select("doc_id", F.length(text_col).alias("len"))
    L = q * max_d + 1
    pref = (
        docarr.filter(F.col("glen") >= L)
        .select(
            "doc_id",
            "glen",
            F.explode(F.slice("__sa", 1, L)).alias("__s"),
        )
        .select(
            "doc_id",
            "glen",
            F.col("__s.df").alias("df"),
            F.col("__s.gram").alias("gram"),
        )
    )
    if max_prefix_df is not None:
        pref = pref.filter(F.col("df") <= max_prefix_df)
    pa = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("glen").alias("glen_a"), "gram"
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("glen").alias("glen_b"), "gram"
    )
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("len").alias("len_a"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("len").alias("len_b"))
    cand = (
        pa.join(pb, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "glen_a", "glen_b")
        .distinct()
        .join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_d)
    )
    counted = (
        cand.join(
            docarr.select(F.col("doc_id").alias("doc_a"), F.col("__arr").alias("__ga")),
            "doc_a",
        )
        .join(
            docarr.select(F.col("doc_id").alias("doc_b"), F.col("__arr").alias("__gb")),
            "doc_b",
        )
        .filter(
            F.size(F.array_intersect("__ga", "__gb"))
            >= F.greatest("glen_a", "glen_b") - q * max_d
        )
        .select("doc_a", "doc_b")
    )
    # short path: strings whose DISTINCT gram count is below L get no
    # prefix guarantee — length-band join against the whole corpus
    short_ids = docarr.select("doc_id", "glen").filter(F.col("glen") < L)
    if not force:
        _refuse_above(
            short_ids,
            max_short,
            "editdist_pairs (short/repetitive-string side path)",
            "Raise max_short, lower q, or pre-filter repetitive strings",
        )
    shorts = short_ids.join(lens, "doc_id").select(
        F.col("doc_id").alias("__sid"),
        F.explode(
            F.sequence(F.col("len") - max_d, F.col("len") + max_d)
        ).alias("len"),
    )
    short_cand = (
        shorts.join(lens, "len")
        .filter(F.col("__sid") != F.col("doc_id"))
        .select(
            F.least("__sid", "doc_id").alias("doc_a"),
            F.greatest("__sid", "doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col(text_col).alias("__ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col(text_col).alias("__tb"))
    return (
        counted.unionByName(short_cand)
        .distinct()
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("__ta", "__tb").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_d)
    )


def editdist_overflow(
    docs: DataFrame,
    max_d: int = 1,
    q: int = 2,
    max_prefix_df: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """(gram, df): prefix grams editdist_pairs DROPS under max_prefix_df —
    the loud-cap companion (jaccard_prefix convention).  A pair is lost
    only if EVERY shared prefix gram is listed here; empty ⇒ the capped
    run was still exact."""
    grams = _editdist_grams(docs, q, text_col)
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = grams.join(freq, "gram")
    L = q * max_d + 1
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") <= L) & (F.col("df") > max_prefix_df))
        .select("gram", "df")
        .distinct()
    )


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL canonicalization for corpus dedup keys: lowercase scheme+host,
    strip the scheme's default port (:80 / :443), drop the fragment and
    utm_* tracking params, default an empty path to '/'.  Path and
    remaining query params keep their case and order (canonicalization
    must never merge genuinely different resources).

    Pure regexp_extract/replace — engine-portable (no parse_url, which
    DuckDB lacks), narrow projection, no shuffle.

    Inputs without a scheme:// prefix pass through UNCHANGED (r3 review:
    collapsing non-matching inputs would have merged every schemeless URL
    under one key — exactly the false merge canonicalization must avoid);
    userinfo, if present, is preserved verbatim (case-sensitive per RFC
    3986) — only scheme and host are lowercased."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    userinfo = F.regexp_extract(authority, "^([^@]*@)", 1)  # kept verbatim
    hostport = F.lower(F.regexp_replace(authority, "^[^@]*@", ""))
    host = (
        F.when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .otherwise(hostport)
    )
    rest = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    # utm stripping applies to the QUERY segment only — '&' is legal inside
    # a PATH (RFC 3986), so '/a&utm_ref=1/b' must survive untouched; within
    # the query, params are matched ANCHORED at a separator (xutm_a=1
    # survives), the name is consumed WHOLE ([^=&#]*, so utm_source%5B%5D
    # never leaves a residual that falsely merges URLs), and the value is
    # optional (bare '?utm_source' tokens occur in the wild)
    path_part = F.regexp_extract(rest, "^([^?]*)", 1)
    query_part = F.regexp_extract(rest, "([?].*)$", 1)
    no_utm = F.regexp_replace(
        query_part, "([?&])utm_[^=&#]*(=[^&#]*)?", "$1"
    )
    query_tidy = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(no_utm, "&&+", "&"), "[?]&", "?"
        ),
        "[?&]+$",
        "",
    )
    combined = F.concat(path_part, query_tidy)
    path = F.when(combined == "", F.lit("/")).otherwise(combined)
    return df.withColumn(
        "canonical_url",
        F.when(scheme == "", u).otherwise(
            F.concat(scheme, F.lit("://"), userinfo, host, path)
        ),
    )


def url_templates(
    urls: DataFrame, url_col: str = "url", min_count: int = 1
) -> DataFrame:
    """(host, template, n_urls, example_url): URL path-template mining —
    digit runs in the path+query collapse to '{n}', so /p/123 and /p/456
    share one template.  The crawler-trap / infinite-space detector: a
    template whose n_urls explodes (calendar pages, session ids, unbounded
    pagination) marks a URL family the frontier should cap, and template
    counts are the standard input to per-pattern crawl budgets
    (IRLbot-style spam/trap control).

    Host is lowercased (userinfo stripped, port kept — template mining
    keys on the literal authority, canonicalization is canonicalize_urls'
    job); schemeless inputs get host NULL and template over the whole
    string (the cdx_index false-merge rule: never unify them with a real
    host).  example_url = min(url) — deterministic, engine-portable.

    Scale: narrow regexp projection + ONE groupBy on (host, template) —
    map-side combinable, output cardinality is the template count, not the
    URL count.  Digit class spelled [0-9] (Spark \\d ≠ DuckDB \\d)."""
    u = F.col(url_col)
    has_scheme = u.rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    authority = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.lower(F.regexp_replace(authority, "^[^@]*@", ""))
    rest = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    pathq = F.when(rest == "", F.lit("/")).otherwise(rest)
    template = F.regexp_replace(
        F.when(has_scheme, pathq).otherwise(u), "[0-9]+", "{n}"
    )
    return (
        urls.select(
            F.when(has_scheme, host).alias("host"),
            template.alias("template"),
            u.alias("__url"),
        )
        .groupBy("host", "template")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("__url").alias("example_url"),
        )
        .filter(F.col("n_urls") >= int(min_count))
    )


def mixture_weights(docs: DataFrame, scale: int = 10_000) -> DataFrame:
    """Multilingual sampling-temperature weights (alpha = 0.5): per
    language, weight ∝ sqrt(n_docs) — the standard mixing rule that
    up-samples low-resource slices.  sqrt is correctly-rounded in IEEE-754
    (bit-identical across engines, unlike pow), and the per-lang square
    roots are QUANTIZED to integers (×scale, rounded) before the global
    sum so the normalization is association-order-free — the whole result
    is exactly reproducible in any engine.

    Scale: one tiny two-level aggregation; the broadcast of the scalar
    total is implicit in the cross join of a one-row aggregate."""
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    q = counts.withColumn(
        "w_q", F.round(F.sqrt(F.col("n_docs")) * scale).cast("long")
    )
    total = q.agg(F.sum("w_q").alias("w_total"))
    return (
        q.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("w_q") / F.col("w_total"), 6).alias("weight"),
        )
    )


def stratified_sample(
    docs: DataFrame, fractions: dict[str, float], default: float = 1.0
) -> DataFrame:
    """Deterministic per-language subsampling: keep a doc iff its hash
    bucket falls under the language's keep-fraction.  Bucket = first byte
    of md5('sample:' || doc_id) (0-255; the 'sample:' salt decorrelates
    from train_split_assign's buckets), so fractions are QUANTIZED to
    1/256 — round(frac*256) buckets kept, documented and engine-exact.
    Hash-based, not rand(): the same doc set is selected across runs,
    engines, and repartitions — what corpus-mixture construction needs.
    No shuffle (narrow filter); composes with mixture_weights (which says
    how much to sample; this op does the sampling)."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
            1,
            2,
        ),
        16,
        10,
    ).cast("int")
    thresh = F.lit(int(round(default * 256)))
    for lang, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col("lang") == lang, F.lit(int(round(frac * 256)))
        ).otherwise(thresh)
    return docs.withColumn("sample_bucket", bucket).filter(
        F.col("sample_bucket") < thresh
    )


def domain_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host corpus stats (docs, chars, languages) — the aggregation a
    crawl-curation dashboard runs first.  Host = lowercased authority
    minus userinfo/port (regexp, engine-portable like canonicalize_urls).

    Scale note: host skew (one giant domain) does NOT need salting here —
    partial aggregation (map-side combine) collapses each task's rows to
    one partial per host before the shuffle, so the reducer for a hot host
    receives n_tasks rows, not n_docs.  Salting is for when the PER-GROUP
    state is large (collects) or the group count is tiny
    (events.type_totals_salted); counts/sums over many hosts are the
    benign case."""
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(F.col(url_col), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1),
            "^[^@]*@|:[0-9]*$",
            "",
        )
    )
    return (
        df.select(host.alias("host"), "n_chars", "lang")
        .filter(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def c4_line_filter(
    docs: DataFrame, min_words: int = 5, min_kept_lines: int = 3
) -> DataFrame:
    """C4 line/page cleaning (Raffel et al. 2020 §2.2) — the canonical
    web-text line filter: keep lines ending in terminal punctuation
    (. ! ? ") with ≥ min_words words and no 'javascript'; drop whole
    pages containing 'lorem ipsum' or a curly brace; keep only pages
    with ≥ min_kept_lines surviving lines.  Output: (doc_id, pos, line)
    — the surviving lines themselves with their original positions, so
    an oracle hash checks content, order, AND both gate levels (a
    dropped page contributes no rows).

    Scale: one explode + codegen'd row filters; the page gate is a
    count window PARTITIONED by doc_id (one exchange); no collects, no
    re-assembly aggregate (join kept lines back by (doc_id, pos) order
    downstream if you need the cleaned text as one string)."""
    pages = docs.filter(
        ~F.lower(F.col("text")).contains("lorem ipsum")
        & ~F.col("text").contains("{")
    )
    lines = pages.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "raw")
    ).select("doc_id", "pos", F.trim("raw").alias("line"))
    kept = lines.filter(
        F.col("line").rlike('[.!?"]$')
        & (F.size(F.split("line", " ")) >= min_words)
        & ~F.lower(F.col("line")).contains("javascript")
    )
    w = Window.partitionBy("doc_id")
    return (
        kept.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") >= min_kept_lines)
        .select("doc_id", "pos", "line")
    )


def boilerplate_lines(docs: DataFrame, min_docs: int = 10) -> DataFrame:
    """(line, n_docs): corpus-frequency boilerplate lines — the CCNet
    "onion"-style cross-document signal (Wenzek et al. 2020 dedup stage):
    a line that appears verbatim in >= min_docs DISTINCT documents is
    navigation/footer/cookie boilerplate, not content.  This is the
    corpus-level complement to the per-page DOM heuristics (F1-F8): a
    "© example.com all rights reserved" line survives any single-page
    filter but cannot survive a corpus frequency gate.

    Scale: explode → DISTINCT (doc_id, line) (map-side combinable — a
    page repeating its own footer contributes once) → groupBy(line)
    count (map-side combinable again).  A hyper-common line is one hot
    KEY with a partial-agg count, not a hot partition of rows.  No
    windows, no joins."""
    lines = (
        docs.select("doc_id", F.explode(F.split("text", "\n")).alias("raw"))
        .select("doc_id", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
        .distinct()
    )
    return (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def scrub_boilerplate_lines(docs: DataFrame, min_docs: int = 10) -> DataFrame:
    """(doc_id, text_clean, n_kept, n_removed): every document rebuilt
    without the corpus-boilerplate lines (boilerplate_lines above), line
    order preserved; documents whose every line was boilerplate survive
    with text_clean = '' — the row count never changes, so downstream
    joins keep working.

    Scale: the exploded non-empty line stream feeds THREE consumers (the
    boilerplate frequency agg, the anti-join probe side, and the per-doc
    line totals) and re-executes for each (ReusedExchange=0 measured).
    It is never pinned here: pinning it (MEMORY_AND_DISK, the jaccard
    shingle rule) measured an alternating A/B TIE at sf0.1 local[32]
    (persist 2.34/1.48/1.17 s vs 1.68/1.38/1.21) because the upstream
    is a cheap parquet scan, so the plan builder pins nothing.  A caller
    whose upstream is expensive (extraction output) should persist
    `docs` itself before calling — the same ≥100x-scale rule the
    jaccard retraction established.  The boilerplate side is the line
    set with df >= min_docs — tiny relative to the corpus (bounded by the
    distinct-common-line count, not the doc count) — and the anti-join
    is left to AQE (the broadcast-hints-only-on-dimensions policy:
    usually broadcast-sized but DERIVED from the big table, so let the
    runtime decide from its actual size).  Reassembly is one
    groupBy(doc_id) of (pos, line) structs with array_sort — order
    restored without a window over the corpus."""
    lines = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "raw")
        )
        .select("doc_id", "pos", F.trim("raw").alias("line"))
        .filter(F.col("line") != "")
    )
    bp = (
        lines.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("line")
    )
    kept = lines.join(bp, "line", "left_anti")
    n_lines = (
        docs.select("doc_id")
        .join(
            lines.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("__n_lines")
            ),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("__n_lines", F.lit(0)).alias("__n_lines"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    return (
        n_lines.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("__n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def latest_snapshot(
    snaps: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    ts_bound: int = 2**42,
) -> DataFrame:
    """(key, id, ts): newest snapshot per canonical key — the recrawl
    dedup every multi-crawl corpus needs (Common Crawl re-fetches a URL
    every crawl; training wants one copy, the freshest).  Tie on ts →
    max id wins (deterministic, engine-portable).

    Scale: the argmax is the packed-bigint trick in max form
    (ts * 2^20 + id — the PQ argmin convention), ONE map-side-combinable
    groupBy; no window over the snapshot stream, no join-back (id and ts
    decode from the packed value).  Requires integer ts < ts_bound and
    0 <= id < 2^20 per key-group... no: id < 2^20 GLOBALLY — callers with
    wider ids re-pack with a bigger shift (documented refusal below, the
    winnowing decode lesson: shiftright decode, never float division)."""
    ts = F.col(ts_col).cast("long")
    idc = F.col(id_col).cast("long")
    packed = F.when(
        (ts >= 0) & (ts < F.lit(ts_bound)) & (idc >= 0) & (idc < F.lit(2**20)),
        ts * F.lit(2**20) + idc,
    )
    agg = (
        snaps.select(
            F.col(key_col).alias("key"),
            packed.alias("__p"),
            # max() IGNORES nulls, so a violating row mixed into a group
            # of valid rows would silently vanish from the argmax — carry
            # an explicit violation flag through the aggregate (max over
            # 0/1 is also its own streaming merge, so the stream twin
            # keeps working)
            packed.isNull().cast("int").alias("__bad"),
        )
        .groupBy("key")
        .agg(F.max("__p").alias("__p"), F.max("__bad").alias("__bad"))
    )
    # ANY row outside the packing bounds (or with null ts/id) fails the
    # whole query loudly rather than silently dropping from the argmax
    return agg.select(
        "key",
        F.when(
            F.col("__p").isNull() | (F.col("__bad") == 1),
            F.raise_error(
                F.lit(
                    "latest_snapshot: ts/id outside packing bounds "
                    f"(ts<{ts_bound}, id<2^20) — re-pack with a wider shift"
                )
            ).cast("long"),
        )
        .otherwise(F.col("__p") % F.lit(2**20))
        .alias(id_col),
        F.shiftright("__p", 20).alias(ts_col),
    )


def parse_http_dates(
    df: DataFrame, col: str = "last_modified", id_col: str = "doc_id"
) -> DataFrame:
    """RFC 1123 HTTP date parsing (Last-Modified / Date headers) to
    integer epoch seconds — the crawl-metadata normalizer feeding
    recency weighting and the crawl-date partition layout.

    Engine-exact convention: Spark's post-3.0 DateTimeFormatter cannot
    PARSE 'EEE' (day-of-week), and RFC 7231 receivers must tolerate a
    wrong weekday anyway — the field is redundant — so BOTH engines
    strip '^[A-Za-z]+, ' and ' GMT$' and parse 'dd MMM yyyy HH:mm:ss'
    ('%d %b %Y %H:%M:%S' in DuckDB; measured identical epochs).
    Unparseable or missing headers yield NULL epoch (try_to_timestamp —
    a crawl-metadata consumer must fail open, not kill the job on one
    malformed header).  `day` = epoch div 86400 for partition
    bucketing; valid for epoch >= 0 (pre-1970 dates would hit the
    truncate-vs-floor divide — not a crawl concern, documented).

    Requires the session timezone pinned to UTC (build_spark does;
    foreign sessions must set spark.sql.session.timeZone) so
    unix_timestamp cannot shift by the host TZ.

    Scale: pure row-level projection — regex + one datetime parse per
    row, whole-stage codegen, no shuffle."""
    core = F.regexp_replace(
        F.regexp_replace(F.col(col), "^[A-Za-z]+, ", ""), " GMT$", ""
    )
    epoch = F.unix_timestamp(
        F.try_to_timestamp(core, F.lit("dd MMM yyyy HH:mm:ss"))
    )
    return df.select(F.col(id_col), epoch.alias("epoch")).select(
        id_col, "epoch", F.expr("epoch div 86400").alias("day")
    )


def revisit_records(
    snaps: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    digest_col: str = "digest",
    ts_bound: int = 2**42,
) -> DataFrame:
    """WARC revisit-record synthesis — fetch-time dedup, the Common
    Crawl 'revisit' record type: per (key, content digest) the FIRST
    fetch (min ts; ts tie → min id) is the stored 'response', and every
    later byte-identical fetch becomes a 'revisit' carrying
    (refers_id, refers_ts) of the original, so storage holds one copy
    of unchanged content per URL across crawls.

    Packed argmin: min(ts*2^20 + id) — a min-min objective, so plain
    min() IS the argmin (no 2^20-1-id complement needed, unlike the
    component_canonical max-form).  Packing bounds refused PER ROW with
    raise_error (the snapshot_retention contract: min() ignores nulls,
    so a violating row must never silently drop from the ordering).

    Scale: one map-side-combinable groupBy on (key, digest) + one
    equi-join back on the same high-cardinality uniform key; no window,
    no sort.  The firsts table is also exactly the 'what to store'
    manifest at crawl time."""
    ts = F.col(ts_col).cast("long")
    idc = F.col(id_col).cast("long")
    packed = F.when(
        (ts >= 0) & (ts < F.lit(ts_bound)) & (idc >= 0) & (idc < F.lit(2**20)),
        ts * F.lit(2**20) + idc,
    )
    def _notnull(col: str, alias: str):
        # a NULL url/digest would form a NULL-key group that the
        # null-unsafe join-back silently drops from the manifest —
        # refuse loudly instead (the latest_snapshot gap class, r5 s4
        # review finding)
        return F.when(
            F.col(col).isNull(),
            F.raise_error(
                F.lit(f"revisit_records: NULL {col} — keys must be non-null")
            ),
        ).otherwise(F.col(col)).alias(alias)

    guarded = snaps.select(
        _notnull(key_col, "key"),
        _notnull(digest_col, "digest"),
        F.col(id_col).alias("__id"),
        F.col(ts_col).alias("__ts"),
        F.when(
            packed.isNull(),
            F.raise_error(
                F.lit(
                    "revisit_records: ts/id outside packing bounds "
                    f"(ts<{ts_bound}, id<2^20) — re-pack with a wider shift"
                )
            ).cast("long"),
        )
        .otherwise(packed)
        .alias("__p"),
    )
    firsts = guarded.groupBy("key", "digest").agg(
        F.min("__p").alias("__f")
    )
    is_first = F.col("__p") == F.col("__f")
    return (
        guarded.join(firsts, ["key", "digest"])
        .select(
            F.col("key").alias(key_col),
            F.col("__id").alias(id_col),
            F.col("__ts").alias(ts_col),
            F.when(is_first, F.lit("response"))
            .otherwise(F.lit("revisit"))
            .alias("kind"),
            F.when(is_first, F.lit(None).cast("long"))
            .otherwise(F.pmod("__f", F.lit(2**20)))
            .alias("refers_id"),
            F.when(is_first, F.lit(None).cast("long"))
            .otherwise(F.shiftright("__f", 20))
            .alias("refers_ts"),
        )
    )


def snapshot_retention(
    snaps: DataFrame,
    n_keep: int = 3,
    key_col: str = "url",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    ts_bound: int = 2**42,
) -> DataFrame:
    """(key, id, ts, rk): the newest n_keep snapshots per canonical key —
    latest_snapshot's storage-management sibling (retention compaction for
    a recrawl store keeps the last N versions for diffing/rollback, not
    just the head).  rk = 1 is the newest; ties on ts break to max id
    (the latest_snapshot convention, same packed ordering).

    Scale: one window partitioned BY KEY (millions of keys → no global
    sort, no single-partition choke; this is the group_topk_sample shape).
    n_keep == 1 callers should prefer latest_snapshot, whose packed-argmax
    form is a map-side-combinable groupBy with no window at all.  Packing
    bounds are refused PER ROW with raise_error (paragraph_dedup contract
    — a violating row must never silently drop from the ranking)."""
    ts = F.col(ts_col).cast("long")
    idc = F.col(id_col).cast("long")
    packed = F.when(
        (ts >= 0) & (ts < F.lit(ts_bound)) & (idc >= 0) & (idc < F.lit(2**20)),
        ts * F.lit(2**20) + idc,
    )
    keyed = snaps.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("__id"),
        F.col(ts_col).alias("__ts"),
        F.when(
            packed.isNull(),
            F.raise_error(
                F.lit(
                    "snapshot_retention: ts/id outside packing bounds "
                    f"(ts<{ts_bound}, id<2^20) — re-pack with a wider shift"
                )
            ).cast("long"),
        )
        .otherwise(packed)
        .alias("__p"),
    )
    w = Window.partitionBy("key").orderBy(F.col("__p").desc())
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= n_keep)
        .select(
            "key", F.col("__id").alias(id_col), F.col("__ts").alias(ts_col), "rk"
        )
    )


def scd2_intervals(
    snaps: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from fetch snapshots —
    the warehouse twin of revisit_records: per key, consecutive fetches
    with the SAME digest collapse into one version row carrying
    (valid_from, valid_to) with valid_to exclusive and NULL on the
    current (open) version.  A digest that disappears and RETURNS opens
    a NEW version (true SCD-2, not a (key, digest) dedup — the fixture
    plants exactly that A-B-A pattern).  Output: (key, version, digest,
    valid_from, valid_to, n_fetches, is_current); version is 1-based in
    fetch order.

    Determinism: the per-key fetch order is (ts, id) — the recrawl
    fixture is tie-heavy on ts (the events_markov lesson: a total order
    or engines disagree on which fetch 'changed').

    Scale: two windows and one groupBy, all partitioned by the
    high-cardinality key — one hash exchange on key reused by every
    step (sort within partitions only), no global sort, no join.

    NULL key/digest rows are REFUSED per row (the latest_snapshot gap
    class: a NULL digest makes the null-unsafe lag comparison evaluate
    NULL and the row silently continues the previous version)."""

    def _notnull(col: str, alias: str):
        return (
            F.when(
                F.col(col).isNull(),
                F.raise_error(
                    F.lit(f"scd2_intervals: NULL {col} — must be non-null")
                ),
            )
            .otherwise(F.col(col))
            .alias(alias)
        )

    w = Window.partitionBy("__k").orderBy("__ts", "__id")
    flagged = snaps.select(
        _notnull(key_col, "__k"),
        F.col(ts_col).cast("long").alias("__ts"),
        F.col(id_col).cast("long").alias("__id"),
        _notnull(digest_col, "__d"),
    ).select(
        "*",
        F.when(
            F.lag("__d").over(w).isNull()
            | (F.lag("__d").over(w) != F.col("__d")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__chg"),
    )
    versions = (
        flagged.select(
            "*",
            F.sum("__chg")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("__v"),
        )
        .groupBy("__k", "__v")
        .agg(
            F.min("__d").alias("digest"),  # constant within a version
            F.min("__ts").alias("valid_from"),
            F.count(F.lit(1)).alias("n_fetches"),
        )
    )
    wv = Window.partitionBy("__k").orderBy("__v")
    return versions.select(
        F.col("__k").alias(key_col),
        F.col("__v").alias("version"),
        "digest",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_fetches",
        F.when(F.lead("valid_from").over(wv).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_current"),
    )


GOPHER_MAX_SYMBOL_PCT = 10
GOPHER_MAX_BULLET_PCT = 90
GOPHER_MAX_ELLIPSIS_PCT = 30
GOPHER_MIN_ALPHA_WORD_PCT = 80
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher repetition/format rules (Rae et al. 2021, Table A1) that
    quality_filter's length/digit bands do NOT cover: symbol-to-word
    ratio (# and ...), bullet-point line fraction, ellipsis-ending line
    fraction, fraction of words with an alphabetic character, and the
    stopword-presence gate (>= 2 distinct of the/be/to/of/and/that/
    have/with).  Output matches quality_filter's contract:
    (doc_id, n_words, n_lines, violations, keep).

    Every threshold is an integer cross-multiplication (the QF_*
    convention — no float division anywhere), so the verdict is
    engine-exact.  Scale: pure row-level projection over split arrays —
    no shuffle, no UDF, whole-stage codegen."""
    words = F.split(F.regexp_replace("text", "\n", " "), " ")
    n_words = F.size(F.filter(words, lambda w: w != ""))
    lines = F.filter(
        F.transform(F.split("text", "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n_lines = F.size(lines)
    n_hash = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    n_ellipsis = F.size(F.split("text", "\\.\\.\\.")) - F.lit(1)
    n_bullet = F.size(
        F.filter(lines, lambda s: s.startswith("-") | s.startswith("*") | s.startswith("•"))
    )
    n_ell_end = F.size(F.filter(lines, lambda s: s.endswith("...")))
    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    rules = [
        (
            "symbol_heavy",
            (n_hash + n_ellipsis) * 100 > GOPHER_MAX_SYMBOL_PCT * n_words,
        ),
        ("bullet_heavy", n_bullet * 100 > GOPHER_MAX_BULLET_PCT * n_lines),
        ("ellipsis_heavy", n_ell_end * 100 > GOPHER_MAX_ELLIPSIS_PCT * n_lines),
        (
            "non_alpha_words",
            n_alpha_words * 100 < GOPHER_MIN_ALPHA_WORD_PCT * n_words,
        ),
        ("few_stopwords", n_stop < GOPHER_MIN_STOPWORD_HITS),
    ]
    violations = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_lines.cast("bigint").alias("n_lines"),
        violations.alias("violations"),
        (violations == "").cast("int").alias("keep"),
    )


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    language, split documents into head/middle/tail TERCILES of their
    LM score — head (lowest mean surprisal under the corpus's own
    unigram LM, standing in for the external KenLM) is the
    highest-quality slice a curation run keeps or upsamples.  Output:
    (doc_id, lang, mean_micronats, bucket).

    Exactness: the scores are unigram_surprisal's integer micro-nats;
    the tercile cuts are nearest-rank order statistics (t1 at
    ceil(n/3), t2 at ceil(2n/3) — integer index arithmetic) computed by
    the length_percentiles HISTOGRAM mechanics: cumulative window over
    DISTINCT score values per lang, never a row sort over the corpus;
    bucket assignment is a broadcast threshold join on lang."""
    surp = unigram_surprisal(docs).select("doc_id", "mean_micronats")
    scored = surp.join(docs.select("doc_id", "lang"), "doc_id")
    hist = scored.groupBy("lang", "mean_micronats").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy("mean_micronats")
    tot = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "mean_micronats",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("mean_micronats"))
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("mean_micronats")
            )
        ).alias("t2"),
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            "mean_micronats",
            F.when(F.col("mean_micronats") <= F.col("t1"), F.lit("head"))
            .when(F.col("mean_micronats") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def robots_sitemaps(
    robots: DataFrame, host_col: str = "host", txt_col: str = "robots_txt"
) -> DataFrame:
    """Sitemap directives from robots.txt — the sitemaps.org extension
    to RFC 9309, the zero-cost crawl-discovery channel next to
    parse_sitemaps/parse_feeds.  Unlike Allow/Disallow, the Sitemap
    field is GROUP-INDEPENDENT (it applies wherever it appears, not to
    the enclosing User-agent group), so this is a separate line scan,
    not a parse_robots extension.

    Convention: CRLF-tolerant, comments ('#' to end of line) stripped
    BEFORE matching (a commented-out directive must not extract),
    field name case-insensitive, strict 'sitemap:' prefix after trim
    (no space before the colon — same strictness as parse_robots
    fields), host LOWERCASED (the apply_robots join convention).
    pos = 1-based index among the host's surviving sitemap lines in
    document order.

    Scale: posexplode of the line split + row-level regex; the
    row_number window partitions BY HOST over only the surviving
    sitemap lines (a handful per host) — no corpus sort."""
    lines = F.posexplode(F.split(F.col(txt_col), "\n"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("line"), "#.*", ""), "\r", ""
        )
    )
    cleaned = (
        robots.select(
            F.lower(F.col(host_col)).alias("host"),
            lines.alias("ln", "line"),
        )
        .select("host", "ln", clean.alias("clean"))
        .filter(F.lower("clean").startswith("sitemap:"))
        .select(
            "host",
            "ln",
            F.trim(F.expr("substring(clean, 9)")).alias("sitemap_url"),
        )
    )
    w = Window.partitionBy("host").orderBy("ln")
    return cleaned.select(
        "host",
        F.row_number().over(w).cast("int").alias("pos"),
        "sitemap_url",
    )


def parse_robots(robots: DataFrame) -> DataFrame:
    """(host, allow, path_prefix): the generic-agent ('*') rules parsed
    out of per-host robots.txt bodies — the crawl-side gate every web
    pipeline needs before it fetches or even keeps a URL.  Input:
    (host, robots_txt).

    Parsing convention (the de-facto Google one, which matches RFC 9309
    §2.2.1 grouping): lines are CRLF-tolerant; a RUN of consecutive
    'User-agent:' lines opens ONE group (r4 ADVICE fix — previously each
    agent line opened its own section, so 'User-agent: *' followed by
    'User-agent: somebot' bound the rules only to somebot and silently
    dropped the '*' rules); Allow/Disallow lines bind to every agent of
    their group; groups containing agent '*' are kept (per-bot-only
    groups are parsed and discarded here — extend the star filter
    upstream if you need a specific bot); an EMPTY Disallow value means
    "allow everything" (RFC 9309 §2.2.2) and emits no rule; field names
    are case-insensitive; '#' comments and unknown fields are ignored.
    The output host is LOWERCASED so the apply_robots join (which
    lowercases the URL-derived host) can never fail open on host-case
    mismatch (r4 ADVICE fix).

    Scale: pure string ops + one per-host window (group id over the
    retained agent/rule lines, PARTITIONED by host — robots bodies are
    small, hosts are many); one tiny groups-with-star semi-join keyed
    the same way; no UDFs."""
    lines = robots.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), "\r?\n")).alias("ln", "line"),
    ).select(
        "host",
        "ln",
        F.regexp_replace("line", "#.*$", "").alias("line"),
    )
    typed = lines.select(
        "host",
        "ln",
        F.trim(
            F.regexp_extract("line", "(?i)^\\s*user-agent\\s*:\\s*(.*?)\\s*$", 1)
        ).alias("agent"),
        F.lower(
            F.regexp_extract("line", "(?i)^\\s*(allow|disallow)\\s*:", 1)
        ).alias("verb"),
        F.trim(
            F.regexp_extract(
                "line", "(?i)^\\s*(?:allow|disallow)\\s*:\\s*(.*?)\\s*$", 1
            )
        ).alias("prefix"),
    )
    # only agent / rule lines participate in grouping — blanks, comments
    # and unknown fields between them neither open nor close a group
    retained = typed.filter((F.col("agent") != "") | (F.col("verb") != ""))
    w = Window.partitionBy("host").orderBy("ln")
    grouped = (
        retained.withColumn("ia", (F.col("agent") != "").cast("int"))
        .withColumn(
            # a group starts at an agent line whose previous RETAINED
            # line was not also an agent line (start-of-group cumsum)
            "grp_start",
            F.when(
                (F.col("ia") == 1)
                & (F.coalesce(F.lag("ia").over(w), F.lit(0)) == 0),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sec",
            F.sum("grp_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    star_secs = (
        grouped.filter(F.col("ia") == 1)
        .groupBy("host", "sec")
        .agg(F.max((F.col("agent") == "*").cast("int")).alias("has_star"))
        .filter(F.col("has_star") == 1)
        .select("host", "sec")
    )
    return (
        grouped.filter(F.col("verb") != "")
        .filter(F.col("prefix") != "")  # empty Disallow = allow-all, no rule
        .join(star_secs, ["host", "sec"])
        .select(
            F.lower("host").alias("host"),
            (F.col("verb") == "allow").cast("int").alias("allow"),
            F.col("prefix").alias("path_prefix"),
        )
    )


def apply_robots(urls: DataFrame, rules: DataFrame, url_col: str = "url") -> DataFrame:
    """(doc_id, host, path, allowed): verdict per URL under the parsed
    '*' rules — LONGEST path-prefix match wins, allow wins a length tie
    (the Google convention), no matching rule means allowed.

    Scale: one join on host (the rules side is tiny per host — broadcast
    it if small overall), then the argmax is the packed-bigint trick
    (len(prefix)*2 + allow — the PQ argmin convention in max form) in a
    map-side-combinable groupBy; no window over the URL stream."""
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(
                F.col(url_col), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
            ),
            "^[^@]*@|:[0-9]*$",
            "",
        )
    )
    path = F.regexp_extract(
        F.col(url_col), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1
    )
    base = urls.select(
        "doc_id",
        host.alias("host"),
        F.when(path == "", F.lit("/")).otherwise(path).alias("path"),
    )
    j = base.join(rules, "host", "left")
    matched = F.col("path_prefix").isNotNull() & F.col("path").startswith(
        F.col("path_prefix")
    )
    packed = F.when(
        matched, F.length("path_prefix") * 2 + F.col("allow")
    ).cast("long")
    return (
        j.groupBy("doc_id", "host", "path")
        .agg(F.max(packed).alias("__p"))
        .select(
            "doc_id",
            "host",
            "path",
            F.coalesce(
                (F.col("__p") % 2).cast("int"), F.lit(1)
            ).alias("allowed"),
        )
    )


def resolve_redirects(redirects: DataFrame, rounds: int = 4) -> DataFrame:
    """Redirect-chain resolution over an (src, dst) redirect map (at most
    ONE out-edge per src — the HTTP 3xx map; a multi-edge input would
    multiply rows in the self-join, so upstream must dedup).  Returns
    (src, final, resolved): `final` is the node reached after following
    up to 2^rounds hops with terminals absorbing, `resolved` = 1 iff
    `final` is not itself a redirecting node (longer chains and cycles
    — redirect loops are common crawl pathology — report 0 rather than
    spinning).

    Pointer doubling: each round composes the map with itself
    (m_{k+1}(x) = m_k(m_k(x)) via one self-join), so a length-L chain
    resolves in ceil(log2 L) rounds instead of L sequential joins — at
    crawl scale the difference between 4 shuffles and a 40-join driver
    chain.  Each round localCheckpoints (the pagerank lesson: without
    it round k re-executes the whole lineage of rounds 1..k-1).

    The DuckDB twin walks the chain step-by-step (recursive CTE capped
    at 2^rounds steps) and takes the packed (step, dst) argmax — same
    absorbing semantics, so the results agree exactly."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    m = redirects.select("src", "dst").localCheckpoint()
    for _ in range(rounds):
        m2 = m.select(
            F.col("src").alias("j_src"), F.col("dst").alias("j_dst")
        )
        m = (
            m.join(m2, m.dst == m2.j_src, "left")
            .select("src", F.coalesce("j_dst", "dst").alias("dst"))
            .localCheckpoint()
        )
    srcs = redirects.select(F.col("src").alias("dst")).distinct()
    return (
        m.join(srcs.withColumn("__is_src", F.lit(1)), "dst", "left")
        .select(
            "src",
            F.col("dst").alias("final"),
            F.when(F.col("__is_src").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("resolved"),
        )
    )


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    hash_col: str = "content_hash",
) -> DataFrame:
    """(url, status ∈ added|removed|changed): the crawl-over-crawl delta
    — what a CDX-style index diff answers.  Unchanged URLs are filtered
    out, so the output is delta-sized, not crawl-sized.

    Scale: ONE full-outer join on the key; with both snapshot tables
    bucketed by url (write_bucketed_table — the north rule's
    bucket(N, url) layout) the join is co-located and shuffle-free, which
    is the point of keeping crawl snapshots in the same bucketed layout.
    Status is a codegen'd null/equality projection."""
    o = old.select(F.col(key_col).alias("url"), F.col(hash_col).alias("__ho"))
    n = new.select(F.col(key_col).alias("url"), F.col(hash_col).alias("__hn"))
    j = o.join(n, "url", "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("changed"))
    )
    return (
        j.select("url", status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


MAX_BLOCKLIST_LEVELS = 6
"""domain_blocklist suffix depth: blocklist entries are registrable
domains (UT1-class lists top out at 4-5 labels), so 6 join levels cover
them; an entry DEEPER than the configured depth could never match and is
refused loudly instead of silently ignored."""


def domain_blocklist(
    urls: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    max_levels: int = MAX_BLOCKLIST_LEVELS,
) -> DataFrame:
    """(doc_id, url, host, blocked, matched_domain): UT1-style domain
    blocklist gate with subdomain suffix semantics — an entry
    'example.org' blocks 'example.org' and every subdomain
    ('a.b.example.org'), never 'notexample.org'.  matched_domain is the
    MOST SPECIFIC (longest-suffix) matching entry, null when clean; one
    output row per input row, blocked ∈ {0,1}.

    Scale: NO explode + re-group.  The host's k-label dot-suffixes
    (k = 1..max_levels) are matched by max_levels independent BROADCAST
    hash joins, deepest first — every join is map-side, so the gate adds
    ZERO exchanges to the URL stream regardless of corpus size; the
    blocklist (tens of MB for UT1-class lists) broadcasts once per depth
    slice.  The blocklist side is deduplicated (distinct on its own tiny
    shuffle) so repeated entries cannot multiply URL rows; entries with
    more labels than max_levels are refused loudly (they could never
    match — a silent no-op gate is worse than an error).  Hosts are
    lowercased and trailing-dot-stripped on BOTH sides, so a mixed-case
    list cannot fail open (the robots_filter lesson, ADVICE r4)."""
    norm = lambda c: F.regexp_replace(F.lower(c), "[.]$", "")  # noqa: E731
    bl = blocklist.select(norm(F.col(domain_col)).alias("__d")).distinct()
    deep = bl.filter(
        F.size(F.split("__d", "[.]")) > max_levels
    ).limit(1).collect()
    if deep:
        raise ValueError(
            f"domain_blocklist refused: entry {deep[0]['__d']!r} has more "
            f"than max_levels={max_levels} labels and could never match; "
            "raise max_levels to cover the deepest blocklist entry."
        )
    host = norm(
        F.regexp_replace(
            F.regexp_extract(
                F.col(url_col), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
            ),
            "^[^@]*@|:[0-9]*$",
            "",
        )
    )
    out = urls.select(
        "doc_id", F.col(url_col).alias("url"), host.alias("host")
    )
    labels = F.split("host", "[.]")
    match_cols = []
    for k in range(max_levels, 0, -1):  # deepest first => coalesce order
        col = f"__m{k}"
        slice_k = bl.filter(
            F.size(F.split("__d", "[.]")) == k
        ).select(F.col("__d").alias(col))
        suffix_k = F.when(
            F.size(labels) >= k, F.concat_ws(".", F.slice(labels, -k, k))
        )
        out = out.join(
            F.broadcast(slice_k), suffix_k == F.col(col), "left"
        )
        match_cols.append(col)
    matched = F.coalesce(*[F.col(c) for c in match_cols])
    return out.select(
        "doc_id",
        "url",
        "host",
        matched.isNotNull().cast("int").alias("blocked"),
        matched.alias("matched_domain"),
    )


def budget_select(
    scored: DataFrame,
    token_budget: int,
    score_col: str = "score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, score, n_tokens): the greedy best-score-first subset whose
    cumulative token count fits token_budget — the data-budget selection
    every training run does last ("give me the best N-billion tokens").
    Deterministic contract: docs ordered by (score DESC, id ASC); the
    prefix of that order whose running token sum stays <= budget is kept
    (a doc that would overshoot is skipped AND selection stops there —
    plain greedy prefix, not best-fit packing).

    Scale (the length_percentiles mechanics, not a corpus sort): the
    corpus collapses to a per-DISTINCT-score histogram (map-side
    combinable), the cumulative-token window runs over that small value
    table (cardinality of the score domain, not the doc count), and the
    threshold score + residual budget come back as a one-row broadcast.
    Docs strictly above the threshold are kept by a codegen'd filter;
    only the single BOUNDARY score group needs a row-level running sum,
    and that window is PARTITIONED by the score value — state bounded by
    one group, never a global orderBy."""
    sc = F.col(score_col).cast("long")
    tk = F.col(tokens_col).cast("long")
    base = scored.select(
        F.col(id_col).alias("doc_id"), sc.alias("score"), tk.alias("n_tokens")
    )
    hist = base.groupBy("score").agg(
        F.sum("n_tokens").alias("grp_tokens")
    )
    w = Window.orderBy(F.col("score").desc())
    cum = hist.select(
        "score",
        (
            F.sum("grp_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
            - F.col("grp_tokens")
        ).alias("cum_before"),
    )
    # lowest score whose PRECEDING groups don't already fill the budget —
    # groups below it are entirely out (their cum_before > budget, and
    # the running sum is monotone), so only groups >= __s need row work
    thresh = (
        cum.filter(F.col("cum_before") <= F.lit(token_budget))
        .groupBy()
        .agg(F.min("score").alias("__s"))
    )
    # a doc is kept iff its GLOBAL running total (its group's preceding
    # cumulative + its within-group (id ASC) running sum) fits the
    # budget; the running total is monotone along the greedy order, so
    # this filter IS the stop-at-first-overshoot prefix.  The window is
    # PARTITIONED by score — state bounded by one group, never a global
    # orderBy.
    wg = Window.partitionBy("score").orderBy(F.col("doc_id").asc())
    return (
        base.crossJoin(F.broadcast(thresh))
        .filter(F.col("score") >= F.col("__s"))
        .join(F.broadcast(cum), "score")
        .withColumn(
            "__run",
            F.sum("n_tokens").over(wg.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .filter(F.col("cum_before") + F.col("__run") <= F.lit(token_budget))
        .select("doc_id", "score", "n_tokens")
    )


def politeness_schedule(
    frontier: DataFrame,
    delays: DataFrame | None = None,
    default_delay_ms: int = 1000,
) -> DataFrame:
    """(url, host, position, fetch_offset_ms): a per-host fetch schedule
    over a crawl frontier — position = priority rank within the host
    (in-link count DESC, url ASC — deterministic), fetch_offset_ms =
    position·delay so successive fetches of one host respect its
    crawl-delay while different hosts proceed in parallel.  `delays` is
    an optional (host, delay_ms) table (robots Crawl-delay, lowercased
    hosts); missing hosts use default_delay_ms.

    Scale: ONE shuffle on host with a per-host window (state bounded by
    the host's frontier slice, never a global sort); the delay table is
    host-cardinality (broadcast — explicit hint, it is a dimension by
    construction).  The schedule is a plan, not a clock: the fetcher
    maps offsets to wall time per executor."""
    base = frontier.select("url", F.lower(F.col("host")).alias("host"), "n_refs")
    if delays is not None:
        d = delays.select(
            F.lower(F.col("host")).alias("host"),
            F.col("delay_ms").cast("long").alias("__d"),
        )
        base = base.join(F.broadcast(d), "host", "left")
    else:
        base = base.withColumn("__d", F.lit(None).cast("long"))
    w = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col("url").asc()
    )
    pos = F.row_number().over(w) - 1
    delay = F.coalesce(F.col("__d"), F.lit(int(default_delay_ms)))
    return base.select(
        "url",
        "host",
        pos.cast("int").alias("position"),
        (pos * delay).cast("long").alias("fetch_offset_ms"),
    )


def crawl_frontier(
    links: DataFrame,
    seen: DataFrame,
    rules: DataFrame,
    href_col: str = "href",
    src_col: str = "url",
    scheme: str = "https://",
) -> DataFrame:
    """(url, host, n_refs): the next crawl batch — distinct link targets
    that are (a) not yet crawled and (b) robots-allowed, with their
    in-link counts as the standard frontier-priority signal.  Composes
    the crawl-side primitives end to end: extracted links → dedup →
    seen-set anti-join → parse_robots/apply_robots verdict.

    Scale: distinct (src, target) then groupBy(target) count — both
    map-side combinable, so a hub page linked from the whole crawl is a
    hot KEY with partial aggregation, never a hot partition; the seen
    set joins as a left_anti on the url (bucket both sides by url at
    10^12 scale and it is co-located); robots verdicts ride
    apply_robots' packed longest-match groupBy, keyed here by
    xxhash64(url) (deterministic, so the verdict joins back without a
    window or a collect)."""
    cand = (
        links.select(
            F.col(src_col).alias("src"),
            F.concat(F.lit(scheme), F.col(href_col)).alias("url"),
        )
        .distinct()
    )
    counts = cand.groupBy("url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_refs")
    )
    new = counts.join(seen.select("url").distinct(), "url", "left_anti")
    keyed = new.withColumn("doc_id", F.xxhash64("url"))
    verdict = apply_robots(keyed.select("doc_id", "url"), rules)
    return (
        keyed.join(
            verdict.filter(F.col("allowed") == 1).select("doc_id", "host"),
            "doc_id",
        )
        .select("url", "host", "n_refs")
    )


def dsir_weights(raw: DataFrame, target: DataFrame) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169,
    unigram variant): per raw document, the log-likelihood ratio of its
    tokens under a target-domain unigram LM vs the raw-corpus LM — the
    data-SELECTION tier above the quality filters (pick raw docs that
    LOOK LIKE the target domain, e.g. upsample encyclopedic text from a
    crawl).  Output: (doc_id, n_tokens, logratio_micronats,
    mean_micronats); positive mean ⇒ target-like.

    Exactness: add-one smoothing over the UNION vocabulary keeps both
    probabilities defined for every raw token; the per-token ratio is
    computed as ONE ln of an exactly-rounded double expression
    ((c_t+1)·(T_r+V)) / ((c_r+1)·(T_t+V)) — integer products stay below
    2^53 so the doubles are exact, and the DuckDB twin parenthesizes
    identically — then floor-quantized to integer micro-nats and summed
    order-free (the unigram_surprisal convention; same documented 1-ulp
    ln() residual).

    Scale: two map-side-combinable unigram tables (raw side from the
    per-doc counts it needs anyway), scalar totals as one-row broadcast
    crossJoins, one join per distinct (doc, token) pair.  The target
    side is small by nature (a curated seed corpus); the raw side never
    materializes more than its token-type stream."""
    rt = raw.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dt = rt.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    runi = dt.groupBy("tok").agg(F.sum("n").alias("cr"))
    tuni = (
        target.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    vocab = (
        runi.select("tok").unionByName(tuni.select("tok")).distinct()
        .select(F.count(F.lit(1)).alias("v"))
    )
    totals = (
        runi.select(F.sum("cr").alias("tr"))
        .crossJoin(tuni.select(F.sum("ct").alias("tt")))
        .crossJoin(vocab)
    )
    joined = (
        dt.join(runi, "tok")
        .join(tuni.withColumnRenamed("tok", "tok2"), dt["tok"] == F.col("tok2"), "left")
        .crossJoin(F.broadcast(totals))
    )
    ratio = (
        (F.coalesce("ct", F.lit(0)) + F.lit(1)).cast("double")
        * (F.col("tr") + F.col("v")).cast("double")
    ) / (
        (F.col("cr") + F.lit(1)).cast("double")
        * (F.col("tt") + F.col("v")).cast("double")
    )
    micro = F.floor(F.log(ratio) * F.lit(1_000_000.0)).cast("long")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * micro).alias("logratio_micronats"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logratio_micronats",
            # signed integer mean: the floor-div offset trick (the r4
            # PQ-training lesson — Spark div truncates, DuckDB // floors;
            # they agree only on non-negatives).  |per-token micro| is
            # bounded by ln(max_count·max_total)·1e6 < 64e6, so B=2^36
            # dominates any real corpus sum/count ratio
            F.expr(
                "(logratio_micronats + 68719476736 * n_tokens) div n_tokens"
                " - 68719476736"
            ).alias("mean_micronats"),
        )
    )


def dsir_topk(raw: DataFrame, target: DataFrame, k: int = 100) -> DataFrame:
    """The selection step: top-k raw docs by DSIR importance —
    orderBy().limit(k) (TakeOrderedAndProject, the top-k convention;
    never a global window sort), rank keys (mean_micronats DESC, doc_id
    ASC) both integer so the order is engine-exact."""
    w = dsir_weights(raw, target)
    top = w.orderBy(F.col("mean_micronats").desc(), F.col("doc_id")).limit(k)
    rw = Window.orderBy(F.col("mean_micronats").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(rw)).select(
        "doc_id", "n_tokens", "mean_micronats", "rank"
    )


def host_anchor_terms(links: DataFrame, k: int = 5) -> DataFrame:
    """(host, term, n, rank): top-k anchor-text terms per link TARGET host
    — the classic web-graph topical signal (what the web calls a page is
    often better evidence than what the page calls itself; anchor-text
    aggregation is how search engines and crawl-quality pipelines use
    it).  Input is the extract_links output (href, anchor).

    Host = authority of the href with an optional scheme stripped,
    lowercased (bare hrefs like 'h3.example/x' are the common in-crawl
    case).  Empty tokens are dropped (an <a> with no text contributes
    nothing).

    Scale: one map-side-combinable groupBy((host, term)) over the token
    stream, then a window PARTITIONED by host for the top-k (rank keys
    (n DESC, term ASC) — integer + lexicographic, engine-exact); host
    skew hits the window, not the count — the groupBy already collapsed
    to distinct terms per host."""
    host = F.lower(
        F.regexp_extract(
            F.col("href"),
            "^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)",
            1,
        )
    )
    tok = (
        links.select(host.alias("host"), F.explode(F.split("anchor", " ")).alias("term"))
        .filter((F.col("host") != "") & (F.col("term") != ""))
    )
    counts = tok.groupBy("host", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("host").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("host", "term", "n", "rank")
    )


def length_percentiles(docs: DataFrame, ps: tuple = (50, 90, 99)) -> DataFrame:
    """(lang, n_docs, p50_chars, p90_chars, ...): exact nearest-rank
    length percentiles per language — the data-card distribution row next
    to domain_stats' totals.  Percentile p = the smallest length whose
    cumulative count reaches ceil(p·n/100) (the nearest-rank method,
    integer arithmetic only — no interpolation, no float).

    Scale: this is the HISTOGRAM form, not a row sort — lengths collapse
    to (lang, n_chars) counts first (map-side combine), the cumulative
    window runs over DISTINCT length values per lang (bounded by the
    value domain, not the corpus), and the final pick is one conditional
    aggregate.  A row_number over raw docs would sort the corpus per
    lang; this sorts at most |distinct lengths| rows."""
    hist = docs.groupBy("lang", F.col("n_chars").cast("long").alias("len")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy("len")
    tot = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "len",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(tot).alias("n_docs"),
    )
    aggs = [F.max("n_docs").alias("n_docs")]
    for p in ps:
        idx = F.expr(f"({p} * n_docs + 99) div 100")
        aggs.append(
            F.min(F.when(F.col("cum") >= idx, F.col("len"))).alias(
                f"p{p}_chars"
            )
        )
    return cum.groupBy("lang").agg(*aggs).select(
        "lang", "n_docs", *[f"p{p}_chars" for p in ps]
    )


HOST_SAMPLE_SCALE = 1 << 20  # md5 5-hex-digit bucket space (2^20)


def host_rebalance(
    df: DataFrame, cap: int = 20, url_col: str = "url"
) -> DataFrame:
    """Per-host down-sampling toward an EXPECTED ≤ cap docs per host —
    the C4/RefinedWeb-style rebalancing that stops a handful of giant
    domains dominating the training mix.  Each doc keeps with probability
    min(1, cap/host_docs), decided by its own md5 bucket, so the sample
    is deterministic, repartition-invariant, and independent of row order
    (the train_split_assign convention, not rand()).  Output: every doc
    with (host, host_docs, keep).

    Exactness: keep_u20 = min(2^20, cap·2^20 div host_docs) and the doc's
    bucket = first 5 hex digits of md5('hs:'||doc_id) — all integer, both
    engines identical (`div` ≡ `//` on non-negatives; cap·2^20 ≤ 2^63
    for any real cap).

    Scale: host_docs is one map-side-combinable groupBy (the domain_stats
    skew note applies — counts don't need salting); the per-host keep
    threshold joins back on host.  A hot host's join fan-out is its own
    doc count — unavoidable since every doc needs a verdict — but the
    payload is one integer column, and at 10^12 docs the host-count side
    is ~10^8 rows: broadcastable if AQE doesn't pick it already.  An
    exact per-host cap (rank < cap) would need a per-host window sort;
    the expected-cap form is the standard trade."""
    if cap < 1:
        raise ValueError("cap must be >= 1")
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(
                F.col(url_col), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
            ),
            "^[^@]*@|:[0-9]*$",
            "",
        )
    )
    based = df.select("doc_id", host.alias("host")).filter(F.col("host") != "")
    counts = based.groupBy("host").agg(F.count(F.lit(1)).alias("host_docs"))
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("hs:"), F.col("doc_id").cast("string"))), 1, 5),
        16,
        10,
    ).cast("long")
    return (
        based.join(counts, "host")
        .select(
            "doc_id",
            "host",
            "host_docs",
            (
                bucket
                < F.least(
                    F.lit(HOST_SAMPLE_SCALE).cast("long"),
                    F.expr(f"({cap} * {HOST_SAMPLE_SCALE}) div host_docs"),
                )
            )
            .cast("int")
            .alias("keep"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    min_overlap distinct word n-grams with any benchmark item — the
    standard train/test leakage check (GPT-3 §C, PaLM §7) run before
    training.  Output: (doc_id, bench_id, overlap) per contaminated pair.

    Scale: the benchmark side is SMALL by nature (eval suites are
    thousands of items, the corpus is 10^12 docs) — its shingle set
    broadcasts, and the corpus side joins RAW (dedup=False: a per-doc
    .distinct() would shuffle the entire corpus shingle stream below the
    join, contradicting this very paragraph — caught by an r3 review of
    the executed plan).  countDistinct over the join HITS gives the same
    distinct-overlap counts, so the only corpus-wide exchange is the
    post-join aggregation, bounded by actual contamination volume."""
    corpus_sh = shingles(docs, n=n, dedup=False)
    bench_sh = shingles(bench, n=n).withColumnRenamed("doc_id", "bench_id")
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.countDistinct("shingle").alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )


def decontaminate_fraction(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    max_pct: int = 10,
) -> DataFrame:
    """Overlap-FRACTION decontamination — the GPT-3 §C / PaLM §7 rule
    proper: a document is contaminated when ≥ max_pct% of its distinct
    word n-grams appear anywhere in the benchmark set (vs `decontaminate`,
    which reports absolute per-(doc, bench-item) overlap counts).  Output:
    every doc with (n_grams, n_hit, contaminated) — docs too short to form
    an n-gram carry (0, 0, 0).

    Exactness: the threshold is the integer cross-multiplication
    n_hit*100 >= n_grams*max_pct (the quality_filter convention — no
    float percentage anywhere).

    Scale: the benchmark's GLOBAL distinct shingle set broadcasts (eval
    suites are small by nature); the fraction's denominator forces one
    per-doc distinct over the corpus gram stream — that (doc_id, gram)
    exchange is the honest price of an exact fraction (same cost class as
    minhash signatures), and it is the ONLY corpus-wide shuffle: the hit
    flag rides the broadcast left join, and the final groupBy(doc_id)
    combines map-side."""
    if not 1 <= max_pct <= 100:
        raise ValueError("max_pct must be in [1, 100]")
    corpus_sh = shingles(docs, n=n, dedup=True)
    bset = (
        shingles(bench, n=n)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    frac = (
        corpus_sh.join(F.broadcast(bset), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0).cast("long"))).alias("n_hit"),
        )
    )
    return (
        docs.select("doc_id")
        .join(frac, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0).cast("long")).alias("n_hit"),
            (
                (F.coalesce("n_hit", F.lit(0)) * 100)
                >= (F.coalesce("n_grams", F.lit(0)) * max_pct)
            )
            .cast("int")
            .alias("contaminated"),
        )
        .withColumn(
            "contaminated",
            F.when(F.col("n_grams") == 0, F.lit(0)).otherwise(
                F.col("contaminated")
            ),
        )
    )


def dedup_components(
    docs: DataFrame,
    n: int = 3,
    min_intersection: int = 2,
    max_shingle_freq: int = 100,
    max_iter: int = 15,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the n-gram
    Jaccard candidate graph, via iterative min-label propagation
    (label(v) ← min(label(v), min over neighbors) until fixpoint).

    Output: (doc_id, component) where component = min doc_id in the
    connected component — exactly reproducible in SQL with a recursive
    transitive closure, so the driver value-checks it.

    Scale: each round is one shuffle on doc_id; rounds = graph diameter
    (near-dup clusters are near-cliques → a handful).  At 10^12 nodes
    switch to the large-star/small-star variant; the loop structure is
    identical."""
    _shingle_cache: list = []
    edges = jaccard_pairs(
        docs, n, min_intersection, max_shingle_freq, cache_handle=_shingle_cache
    ).select("doc_a", "doc_b")
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .cache()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("component"))
    changed = 0
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("component").alias("nmin"))
        )
        # localCheckpoint: eager + truncates lineage — without it every
        # round's plan nests the previous rounds' joins and analysis time
        # explodes exponentially
        new_labels = (
            labels.join(neigh_min, labels.doc_id == F.col("nid"), "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("nl")
            .join(labels.alias("ol"), "doc_id")
            .filter(F.col("nl.component") != F.col("ol.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    for _df in _shingle_cache:
        _df.unpersist()
    if changed != 0:
        # a chain with graph diameter > max_iter would otherwise return
        # silently wrong labels (diverging from the transitive-closure
        # oracle); fail loudly — callers raise max_iter, they don't guess
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select("doc_id", F.col("component").cast("long").alias("component"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): every node's strictly-LARGER neighbors attach to the min
    of its closed neighborhood.  Edges arrive/leave canonical (hi > lo)."""
    sym = edges.select(
        F.col("hi").alias("u"), F.col("lo").alias("v")
    ).unionByName(edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("hi"), m.alias("lo"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node's SMALLER neighbors (and itself) attach
    to the min of the neighborhood.  Directed larger→smaller, so grouping
    by hi sees exactly the smaller neighbors."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    d = edges.join(mins, "hi")
    to_min = d.filter(F.col("lo") != F.col("m")).select(
        F.col("lo").alias("hi"), F.col("m").alias("lo")
    )
    center = d.select("hi", F.col("m").alias("lo"))
    return to_min.unionByName(center).distinct()


def dedup_components_lss(
    docs: DataFrame,
    n: int = 3,
    min_intersection: int = 2,
    max_shingle_freq: int = 100,
    max_iter: int = 25,
) -> DataFrame:
    """Near-duplicate clusters via the ALTERNATING large-star/small-star
    algorithm — the 10^12-node variant of dedup_components: O(log n) rounds
    regardless of graph diameter (min-label propagation needs O(diameter)
    rounds), and every round's shuffle is keyed on node id with per-node
    output degree bounded by the star contraction.

    Same output contract as dedup_components ((doc_id, component=min id in
    component), same DuckDB transitive-closure oracle); chain-graph test
    exercises the diameter >> rounds case.

    Convergence check (VERDICT r2 #9, one job per round instead of three):
    each round computes a commutative (count, xxhash64-sum) digest of the
    edge set — the previous round's digest is remembered, so no job ever
    re-touches the old edges.  A digest match triggers ONE exact exceptAll
    confirmation (runs once, at the stable round) so a 2^-64 hash collision
    can never silently truncate the contraction."""
    _shingle_cache: list = []
    edges = jaccard_pairs(
        docs, n, min_intersection, max_shingle_freq, cache_handle=_shingle_cache
    ).select(
        F.col("doc_b").alias("hi"), F.col("doc_a").alias("lo")
    ).distinct().localCheckpoint()
    for _df in _shingle_cache:  # localCheckpoint is eager — shingles done
        _df.unpersist()
    return _lss_components(docs, edges, max_iter, "dedup_components_lss")


def _lss_components(
    docs: DataFrame, edges: DataFrame, max_iter: int, opname: str
) -> DataFrame:
    """Alternating large-star/small-star contraction over canonical
    (hi > lo) edges; returns (doc_id, component = min id in component)
    covering EVERY doc (isolated docs label themselves).

    r6 adaptive path (guide §8 — decide with small rows): the component
    labels depend ONLY on the edge list, which every caller has already
    localCheckpointed (it is materialized and small relative to the
    corpus: near-dup edges, not documents).  When it provably fits
    GRAPH_DRIVER_MAX_EDGES (_collect_within, the cached limit-probe) it
    is collected once and solved with exact min-root union-find —
    identical labels by definition (component = min reachable id is the
    unique transitive closure, engine-independent), zero per-round jobs.
    The star loop — the 10^12-edge design — runs verbatim above the
    bound."""
    pdf = _collect_within(edges.select("hi", "lo"), GRAPH_DRIVER_MAX_EDGES)
    if pdf is not None:
        parent: dict = {}

        def _find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for hi, lo in zip(pdf["hi"].tolist(), pdf["lo"].tolist()):
            ra, rb = _find(int(hi)), _find(int(lo))
            if ra != rb:
                # always attach the LARGER root under the smaller so the
                # root IS the component's min id
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        nodes = set(pdf["hi"].tolist()) | set(pdf["lo"].tolist())
        lab = pd.DataFrame(
            {
                "doc_id": [int(v) for v in sorted(nodes)],
                "component": [_find(int(v)) for v in sorted(nodes)],
            },
            dtype="int64",
        )
        spark = docs.sparkSession
        lab_df = spark.createDataFrame(lab, schema="doc_id bigint, component bigint")
        # keep docs' own doc_id dtype (the star-loop path does) — the
        # equi-join coerces for comparison without changing the column
        return docs.select("doc_id").join(
            F.broadcast(lab_df), "doc_id", "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("component"),
        )

    def _digest(df):
        # pmod before the sum: raw xxhash64 sums overflow LongType (ANSI
        # mode raises); mod-1e9+7 keeps the sum exact to ~9e9 edges
        row = df.select(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.pmod(F.xxhash64("hi", "lo"), F.lit(1_000_000_007))).alias("s"),
        ).collect()[0]
        return (row.c, row.s)

    prev = _digest(edges)
    for _ in range(max_iter):
        # r6 measured anti-lesson: fusing the two stars into ONE
        # checkpoint per round (e2 = small(large(edges)).localCheckpoint())
        # read 4.1-4.5 s warm vs 3.6-4.2 for this form at sf0.1 —
        # _small_star references its input 3x and _large_star 4x, and the
        # replicated large-star subtree costs more than the saved
        # materialization job.  Keep the per-star checkpoints.
        e1 = _large_star(edges).localCheckpoint()
        e2 = _small_star(e1).localCheckpoint()
        cur = _digest(e2)
        stable = cur == prev and e2.exceptAll(edges).count() == 0
        prev = cur
        edges = e2
        if stable:
            break
    else:
        raise RuntimeError(f"{opname} did not converge in {max_iter} rounds")
    roots = edges.groupBy("hi").agg(F.min("lo").alias("component"))
    return docs.select("doc_id").join(
        roots, docs["doc_id"] == roots["hi"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("long")
        .alias("component"),
    )


def dedup_components_minhash(
    docs: DataFrame,
    k: int = 4,
    n: int = 3,
    max_bucket_size: int | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """THE full-scale dedup composition: MinHash banding → bucket STAR
    edges → large-star/small-star connected components.  Every document in
    an LSH bucket connects to the bucket's min doc_id — edge volume is
    LINEAR in bucket size (never the |bucket|² pair join), which is what
    makes LSH-based dedup tractable at 10^12 docs; the optional
    max_bucket_size guard drops degenerate buckets like the pair producer
    does.  Components are identical to pairwise-edge components because a
    star covers the same connectivity as the bucket's clique.

    Output contract matches dedup_components ((doc_id, component = min id
    in the component)); the DuckDB oracle rebuilds the bands and runs the
    recursive transitive closure over the same star edges."""
    # membership feeds BOTH the hub aggregation and the edge join —
    # persist it so the shingle→signature aggregation runs once, not
    # twice; the eager localCheckpoint on edges below materializes it,
    # after which it is released
    membership = _pin(_band_membership(docs, k, n))
    # hub selection IS minhash_lsh_buckets over the shared membership —
    # one definition of bucket/cap semantics, never a drifting copy
    hubs = minhash_lsh_buckets(
        docs, k=k, n=n, max_bucket_size=max_bucket_size, membership=membership
    )
    edges = (
        membership.join(hubs.select("band", "bucket", "min_doc_id"),
                        ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("min_doc_id"))
        .select(
            F.col("doc_id").alias("hi"), F.col("min_doc_id").alias("lo")
        )
        .distinct()
        .localCheckpoint()
    )
    membership.unpersist()
    return _lss_components(docs, edges, max_iter, "dedup_components_minhash")


def dedup_components_simhash(
    docs: DataFrame,
    bits: int = 48,
    n_bands: int = 4,
    max_hamming: int | None = None,
    max_bucket_size: int | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the SimHash hamming graph: rescored pairs →
    edges → large-star/small-star.  Completes the dedup-to-clusters story
    for the third family (exact → copy groups, MinHash → bucket-star
    components, SimHash → THIS).

    Unlike the MinHash composition, the linear STAR-edge trick does NOT
    apply: bucket co-membership alone over-connects (two fingerprints can
    share one 12-bit band slice while 20 bits apart overall), and the
    exact hamming rescore is inherently pairwise.  Edge volume is the
    capped pair volume (Σ|bucket|²/2 bounded by max_bucket_size), not
    linear — the honest trade for clustering by a TRUE distance threshold
    instead of bucket connectivity.

    Output contract matches dedup_components: (doc_id, component = min
    doc_id reachable via pairs at hamming <= max_hamming)."""
    pairs = simhash_neardup_pairs(
        docs,
        bits=bits,
        n_bands=n_bands,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )
    # pairs emit doc_id_a < doc_id_b; the LSS convention is (hi, lo)
    edges = pairs.select(
        F.col("doc_id_b").alias("hi"), F.col("doc_id_a").alias("lo")
    ).localCheckpoint()
    return _lss_components(docs, edges, max_iter, "dedup_components_simhash")


def dedup_components_embedding(
    emb: DataFrame,
    threshold: float = 0.8,
    n_bands: int = 6,
    band_bits: int = 3,
    max_bucket_size: int | None = None,
    max_iter: int = 25,
    rescore: str = "numpy",
) -> DataFrame:
    """Connected components of the embedding cosine graph — the FOURTH
    dedup family's cluster composition (exact copies, MinHash bucket-star,
    SimHash hamming, and now semantic near-dups): capped banded-LSH pairs
    with exact cosine rescore feed the large-star/small-star solver.

    Like the SimHash composition (and unlike MinHash), the rescore is
    pairwise, so edge volume is the capped pair volume — clustering by a
    TRUE similarity threshold.  Output: (vec_id, component = min vec_id
    reachable via pairs at cos >= threshold)."""
    pairs = embedding_neardup_lsh(
        emb,
        threshold=threshold,
        n_bands=n_bands,
        band_bits=band_bits,
        max_bucket_size=max_bucket_size,
        rescore=rescore,
    )
    # id_a < id_b by the join condition; LSS wants (hi, lo)
    edges = pairs.select(
        F.col("id_b").alias("hi"), F.col("id_a").alias("lo")
    ).localCheckpoint()
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    out = _lss_components(nodes, edges, max_iter, "dedup_components_embedding")
    return out.select(F.col("doc_id").alias("vec_id"), "component")


def component_histogram(
    labels: DataFrame, component_col: str = "component"
) -> DataFrame:
    """(size, n_components): the dedup observability report — how many
    duplicate clusters of each size the corpus holds.  A heavy tail here
    is the signal to tighten thresholds or caps BEFORE paying for the
    full dedup write; size-1 components count the unique docs.  Two
    map-side-combinable groupBys (component sizes, then the size
    histogram) — no window, no join, output rows = distinct sizes."""
    sizes = labels.groupBy(component_col).agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_components")
    )


def component_canonical(
    components: DataFrame,
    scores: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
    max_id: int = 2**20,
) -> DataFrame:
    """(component, canonical_id, best_score, n_members): per dedup
    component, the member a curation run KEEPS — argmax score, ties
    broken by MIN id (the deterministic canonical-smallest convention).
    This closes the dedup story: the component solvers say which docs
    are the same; this says which copy survives.

    Scale: join components to the (id, score) table on the id, then ONE
    map-side-combinable groupBy(component) over a packed bigint —
    score * 2^20 + (2^20-1-id), so max(packed) is simultaneously the
    score argmax and (negated) the id tiebreak; id and score decode by
    shiftright / pmod (the latest_snapshot pattern, min-tiebreak form).
    Out-of-bounds ids/scores refuse loudly rather than silently losing
    the argmax (raise_error, same contract as latest_snapshot)."""
    sc = F.col(score_col).cast("long")
    idc = F.col(id_col).cast("long")
    packed = F.when(
        (sc >= 0) & (sc < F.lit(2**42)) & (idc >= 0) & (idc < F.lit(max_id)),
        sc * F.lit(max_id) + (F.lit(max_id - 1) - idc),
    )
    j = components.join(
        scores.select(idc.alias(id_col), packed.alias("__p")), id_col
    )
    agg = j.groupBy("component").agg(
        F.max("__p").alias("__p"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    return agg.select(
        "component",
        F.when(
            F.col("__p").isNull(),
            F.raise_error(
                F.lit(
                    "component_canonical: score/id outside packing bounds "
                    f"(score<2^42, id<{max_id}) — re-pack with a wider shift"
                )
            ).cast("long"),
        )
        .otherwise(F.lit(max_id - 1) - F.col("__p") % F.lit(max_id))
        .alias("canonical_id"),
        F.expr(f"__p div {max_id}").alias("best_score"),
        "n_members",
    )


def simhash(docs: DataFrame, bits: int = 48) -> DataFrame:
    """SimHash over distinct tokens: md5-derived bit planes, majority vote
    per bit, folded into a BIGINT.  Fully engine-portable: bit p of token t
    is (hexval(md5(t)[p/4]) >> (p%4)) & 1.

    Scale analysis (measured honestly in round 2 with a noop sink —
    .count()-based timing had been pruning the aggregate expressions and
    flipping the comparison): the un-exploded form wins 2.5× (1.9-2.1s vs
    4.7s full-eval at sf0.1 local[32]).  One conv() parses all 12 hex
    digits of md5(token) into a long per token row; the 48 per-bit majority
    votes are integer shift+mask SUM aggregates over one groupBy(doc_id)
    (map-side combinable), so neither the map side nor the shuffle ever
    sees a docs × tokens × bits row stream."""
    if bits % 4 or not 4 <= bits <= 60:
        # 16 hex digits would overflow signed long in conv() and a 1<<63
        # weight literal cannot be a LongType — fail loudly, not wrongly
        raise ValueError("bits must be a multiple of 4 in [4, 60]")
    words = F.array_distinct(F.split(F.col("text"), " "))
    tok = docs.select("doc_id", F.explode(words).alias("tok"))
    n_digits = bits // 4
    packed = F.conv(F.substring(F.md5("tok"), 1, n_digits), 16, 10).cast("long")
    tok = tok.select("doc_id", packed.alias("b"))
    # conv() puts hex digit d at bits [4*(n_digits-1-d), +3]; the simhash
    # bit p lives in digit p//4 at in-digit weight p%4
    aggs = [
        F.sum(
            F.shiftright(
                F.col("b"), 4 * (n_digits - 1 - p // 4) + p % 4
            ).bitwiseAND(F.lit(1))
        ).alias(f"c{p}")
        for p in range(bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs, F.count(F.lit(1)).alias("n_tok"))
    # majority vote: sum(±1) > 0  ⟺  2·(ones count) > token count
    sim = F.lit(0).cast("long")
    for p in range(bits):
        sim = sim + F.when(
            F.col(f"c{p}") * 2 > F.col("n_tok"), F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", sim.alias("simhash"))


def _simhash_bands(sims: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(doc_id, simhash, band, bval): contiguous band_bits-wide slices of the
    simhash fingerprint.  Band b is bits [b*band_bits, (b+1)*band_bits) —
    shift+mask, exact in any engine (simhash < 2^60 so the long stays
    non-negative and arithmetic shiftright is safe)."""
    mask = (1 << band_bits) - 1
    structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    return sims.select(
        "doc_id", "simhash", F.explode(structs).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))


def simhash_neardup_pairs(
    docs: DataFrame,
    bits: int = 48,
    n_bands: int = 4,
    max_hamming: int | None = None,
    max_bucket_size: int | None = None,
    sims: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup PAIRS: banded hamming-ball candidate generation +
    exact xor/bit_count re-score — the third dedup family's pair producer
    (exact hash, MinHash banding, and now SimHash; Manku et al. WWW'07
    banding scheme re-expressed as a bucket self-join).

    The capped band table is always localCheckpointed (r5, measured):
    without it the band table — and the corpus-sized fingerprint
    AGGREGATE under it — re-executes for the bucket-size count AND both
    sides of the self-join (ReusedExchange=0 in the physical plan: the
    three subtrees canonicalize differently).  One localCheckpoint of the
    capped bands (docs × n_bands one-long rows) collapses that to a
    single fingerprint pass: warm-session A/B at sf0.1 local[32] =
    2.9-3.9 s vs 3.4-6.9 s without it, and at 100 TB the avoided
    re-aggregations are corpus-sized.

    Pigeonhole guarantee: two fingerprints at hamming distance <= n_bands-1
    agree EXACTLY on at least one of the n_bands disjoint band slices, so
    candidate recall at max_hamming = n_bands-1 (the default) is 1.0 — not
    probabilistic like MinHash banding.  The re-score is exact, so
    precision is 1.0 too; the band join is purely a work bound.

    Scale: band membership is docs × n_bands one-long rows (no token
    explode — the heavy lifting happened in the simhash aggregate).  The
    self-join shuffles on (band, bval): candidate volume is Σ|bucket|²/2
    per band, never n²/2.  Templated corpora concentrate fingerprints, so
    max_bucket_size bounds the quadratic exactly like the MinHash and
    embedding producers; dropped buckets surface via simhash_lsh_overflow,
    never silently.  Pass a precomputed/persisted `sims` frame to share the
    fingerprint aggregation with other consumers (e.g. the overflow audit
    in the same job).
    """
    if bits % n_bands:
        raise ValueError(
            "bits must divide evenly into n_bands slices — a ragged last "
            "band would silently weaken the pigeonhole recall guarantee"
        )
    band_bits = bits // n_bands
    if max_hamming is None:
        max_hamming = n_bands - 1
    elif max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"n_bands-1={n_bands - 1} — pairs beyond it would be silently "
            "missed; raise n_bands instead"
        )
    if sims is None:
        sims = simhash(docs, bits)
    bands = _simhash_bands(sims, n_bands, band_bits)
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "bval").agg(
            F.count(F.lit(1)).alias("__n_in_bucket")
        )
        bands = (
            bands.join(sizes, ["band", "bval"])
            .filter(F.col("__n_in_bucket") <= max_bucket_size)
            .drop("__n_in_bucket")
        )
    bands = bands.localCheckpoint()
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()  # a pair can collide in several bands
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("long")
    return (
        pairs.select("doc_id_a", "doc_id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_lsh_overflow(
    docs: DataFrame,
    bits: int = 48,
    n_bands: int = 4,
    *,
    max_bucket_size: int,
    sims: DataFrame | None = None,
) -> DataFrame:
    """The (band, bval) buckets simhash_neardup_pairs DROPS under
    max_bucket_size — the loud side of the skew guard, mirroring
    minhash_lsh_overflow / embedding_lsh_overflow.  Non-empty means a
    fingerprint-dense cluster (templated or near-constant pages) was
    excluded from candidate generation; raise the cap or pre-dedup exact
    duplicates first.

    max_bucket_size is REQUIRED (keyword-only) and must match the paired
    producer's cap.  Pass the shared `sims` frame to avoid recomputing the
    corpus-wide fingerprint aggregation."""
    if bits % n_bands:
        # same validation as the paired producer — an audit over a banding
        # scheme no producer can run would report meaningless buckets
        raise ValueError(
            "bits must divide evenly into n_bands slices — a ragged last "
            "band would silently weaken the pigeonhole recall guarantee"
        )
    band_bits = bits // n_bands
    if sims is None:
        sims = simhash(docs, bits)
    return (
        _simhash_bands(sims, n_bands, band_bits)
        .groupBy("band", "bval")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector scale = max|x|, and
    q_i = round(x_i * 127 / scale) ∈ [-127, 127] — the memory-side lever
    for ANN at 10^12 vectors (float32→int8 cuts the vector payload 4×,
    which at 100 TB is the difference between spilling and not).

    Engine-exact: Spark round (HALF_UP on doubles = half away from zero)
    matches DuckDB round, and the zero-vector degenerates to all-zero
    q with scale 0 on both engines (guarded CASE, no division by zero).
    Row-level projection — no shuffle, codegen'd."""
    e = F.col("embedding").cast("array<double>")
    # mx must be a BOUND COLUMN before the quantizing lambda references it:
    # embedded directly, the interpreted per-element transform re-evaluates
    # the whole array_max(transform(abs)) for EVERY element — O(ndim²)
    # work per row (the rolling_fp per-digit-md5 trap, r3 session-2 review)
    with_mx = emb.select(
        "vec_id",
        e.alias("e"),
        F.array_max(F.transform(e, lambda x: F.abs(x))).alias("mx"),
    )
    mx = F.col("mx")
    qvec = F.when(
        mx == 0.0, F.transform(F.col("e"), lambda x: F.lit(0))
    ).otherwise(
        F.transform(F.col("e"), lambda x: F.round(x * 127.0 / mx).cast("int"))
    )
    return with_mx.select(
        "vec_id",
        F.round(mx, 4).alias("scale"),
        qvec.alias("qvec"),
    )


def quantized_knn(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Cosine top-k over int8-QUANTIZED vectors: the dot products are
    INTEGER folds (≤ 127²·ndim per pair — exact in any order, no float
    drift), norms and the final cosine are then identical doubles on both
    engines, and ranking follows the knn convention (round(cos,4) DESC,
    neighbor_id).  Same broadcast-query / corpus-streams-once shape as
    knn_bruteforce; the quantization error vs exact cosine is what the
    recall test measures."""
    # r6 (guide §4.1): the r5 idot was an interpreted F.aggregate/zip_with
    # fold — corpus×queries×ndim per-element lambda evaluations (the
    # measured higher-order-lambda trap).  Integer dots are order-free
    # (exact in any summation order), so unlike the float oracle folds
    # they may run as ONE vectorized einsum per Arrow batch: identical
    # longs, 10-100× cheaper (warm 2.1-2.6 s → ~1 s at sf0.1).
    @F.pandas_udf("long")
    def idot_np(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        av = np.stack(a.to_numpy()).astype(np.int64)
        bv = np.stack(b.to_numpy()).astype(np.int64)
        return pd.Series(np.einsum("ij,ij->i", av, bv))

    def idot(a, b):
        return idot_np(a, b)

    # per-vector norms ONCE (the neardup-LSH lesson: recomputing both
    # norms per PAIR triples the fold arithmetic).  Zero-norm vectors —
    # the degenerate case quantize_embeddings guards — have no cosine
    # direction and are EXCLUDED from both sides (a 0/0 here would be
    # Spark NULL vs DuckDB NaN, a silent cross-engine divergence)
    q = (
        quantize_embeddings(emb)
        .select(
            "vec_id",
            "qvec",
            F.sqrt(idot(F.col("qvec"), F.col("qvec"))).alias("nrm"),
        )
        .filter(F.col("nrm") > 0.0)
    )
    queries = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("qa"),
        F.col("nrm").alias("na"),
    )
    corpus = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    pairs = F.broadcast(queries).crossJoin(corpus).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = idot(F.col("qa"), F.col("qb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(cos, 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(cos, 4).alias("cos_q"),
        )
    )


def _dot_fold(a, b):
    """The oracle-anchoring sequential dot fold (summation order matches
    DuckDB list_reduce — the r3 rule: never swap for numpy)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_fold(a):
    """sqrt of the sequential self-dot fold — same value wherever it is
    evaluated, so callers may compute it ONCE PER VECTOR instead of per
    pair (r6: the interpreted fold is the cost; _cosine ran three of
    them per pair)."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _cosine(a, b):
    return _dot_fold(a, b) / (_norm_fold(a) * _norm_fold(b))


MAX_KNN_BRUTEFORCE_ROWS = 1_000_000
"""knn_bruteforce refusal bound: the corpus streams once (linear), but the
per-pair interpreted cosine fold prices each row ~µs-scale — beyond 10^6
vectors this is the wrong tool vs ivf_topk/quantized_knn, so refuse loudly
(mirrors the LSH producers' loud-cap convention; r3 verdict #4)."""

_SIZE_GUARD_OK: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _refuse_above(df: DataFrame, bound: int, name: str, hint: str) -> None:
    """Loud size guard, made cheap per r4 ADVICE: a LIMIT-based existence
    probe (`df.limit(bound+1).count()`) instead of a full `df.count()` —
    Spark executes limits incrementally, so a huge input answers after a
    few partitions instead of a full scan — and a weak per-DataFrame cache
    of the smallest bound each object was proven under, so composing
    callers pay the probe once per DataFrame object rather than on every
    plan-builder invocation (rows ≤ b1 ≤ b2 ⇒ rows ≤ b2; a STRICTER bound
    than any cached proof still re-probes).  Still one (small) eager job
    on first call; callers that want pure laziness pass force=True and
    own the bound themselves."""
    if not _fits_within(df, bound):
        raise ValueError(
            f"{name} refused: corpus exceeds {bound} rows "
            f"(existence probe stopped at {bound + 1}). {hint} "
            "or pass force=True to override."
        )


def _fits_within(df: DataFrame, bound: int) -> bool:
    """The cached limit-probe itself, for ADAPTIVE plan choices (r6):
    reports whether df provably fits `bound` rows — the decision input
    for broadcast-sized fast paths (pick the small-side plan the way the
    planner picks a broadcast join, guide §3.1).  _refuse_above raises
    on it and _collect_within collects on it, so every proof lands in
    the one cache."""
    proven = _SIZE_GUARD_OK.get(df)
    if proven is not None and proven <= bound:
        return True
    if df.limit(bound + 1).count() > bound:
        return False
    _SIZE_GUARD_OK[df] = bound if proven is None else min(proven, bound)
    return True


def _collect_within(df: DataFrame, bound: int) -> pd.DataFrame | None:
    """The one way a graph operator brings rows to the driver:
    df.toPandas() when _fits_within proves df has at most `bound` rows
    (one cached limit-probe, so a side input proven earlier is not
    probed again), else None — the caller then runs its distributed
    loop unchanged.  Edge lists and seed sets both come through here,
    so no driver replay collects an unbounded input."""
    return df.toPandas() if _fits_within(df, bound) else None


def _factorize(*arrays: np.ndarray) -> tuple:
    """(nodes, codes_1, …, codes_k): the SORTED distinct domain of the
    concatenated arrays plus one int64 code array per input, codes
    indexing nodes.  Works for integral id graphs and string word
    graphs (textrank) alike; the row set is order-free, so the sort is
    only an index convention shared by every driver replay."""
    nodes, inv = np.unique(np.concatenate(arrays), return_inverse=True)
    cuts = np.cumsum([len(a) for a in arrays])[:-1]
    return (nodes, *np.split(inv.astype(np.int64, copy=False), cuts))


def knn_bruteforce(
    emb: DataFrame, n_queries: int = 10, k: int = 5, *, force: bool = False
) -> DataFrame:
    """Brute-force cosine top-k: queries (vec_id < n_queries) × corpus.

    The query side is tiny → broadcast it; the corpus streams through one
    narrow projection.  This is the exact-scoring baseline; the scale
    paths are ivf_topk / quantized_knn / embedding_lsh_buckets.  Guarded:
    refuses above MAX_KNN_BRUTEFORCE_ROWS corpus rows unless force=True —
    nothing else stops a user pointing the O(n·q) interpreted rescore at a
    real corpus (r3 verdict #4; probe made limit-based + cached, r4
    ADVICE)."""
    if not force:
        _refuse_above(
            emb,
            MAX_KNN_BRUTEFORCE_ROWS,
            "knn_bruteforce",
            "This is the exact-scoring BASELINE (linear scan, interpreted "
            "per-pair cosine); use ivf_topk/quantized_knn at scale,",
        )
    # r6 norms-once: _cosine ran THREE interpreted folds per pair; the
    # norm fold over the same array yields the identical double wherever
    # it is evaluated, so each side computes it once per VECTOR and the
    # per-pair work drops to the one oracle-anchoring dot fold
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    ).withColumn("na", _norm_fold(F.col("qe")))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("nb", _norm_fold(F.col("ce")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot_fold(F.col("qe"), F.col("ce"))
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
    )
    # rank on the ROUNDED cosine (the value the oracle hashes): two engines
    # can disagree on the last ulp of a near-tie pair, which would swap
    # ranks while both round to the same 4dp — id tiebreak keeps the
    # ordering deterministic and cross-engine identical (ADVICE r1)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos_sim"))
    )


MAX_EXACT_PAIR_ROWS = 20_000
"""embedding_neardup_pairs refusal bound: n²/2 scored pairs means 2·10^8
candidate cosines at 20k rows — already an hour-class job with the
interpreted fold, and quadratic beyond.  Loud refusal, not a silent cap."""


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.8, *, force: bool = False
) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold (exact O(n²) —
    correctness baseline; LSH variant is the scale path).  Guarded: refuses
    above MAX_EXACT_PAIR_ROWS corpus rows unless force=True — the API
    previously let a user point the full crossJoin at a real corpus (r3
    verdict #4; probe made limit-based + cached, r4 ADVICE)."""
    if not force:
        _refuse_above(
            emb,
            MAX_EXACT_PAIR_ROWS,
            "embedding_neardup_pairs",
            "This is the exact O(n²) correctness baseline "
            f"(≈{MAX_EXACT_PAIR_ROWS * (MAX_EXACT_PAIR_ROWS - 1) // 2} "
            "candidate pairs at the bound); use embedding_neardup_lsh at "
            "scale,",
        )
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("eb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine(F.col("ea"), F.col("eb")).alias("cos"))
        # threshold on the ROUNDED value the oracle hashes: a boundary pair
        # differing in the last ulp across engines must not flip inclusion
        .filter(F.round("cos", 4) >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos_sim"))
    )


def _quant_dims(
    emb: DataFrame, q: int, ndim: int, carry: tuple = ()
) -> DataFrame:
    """(vec_id, *carry, d, val): the exploded clamped-integer embedding
    stream — kmeans' training space (same clamp/round as PQ's sq CTE),
    shared by kmeans_clusters and kmeans_inertia so the eval scores
    EXACTLY the space the trainer saw.  `carry` rides extra columns
    through the explode (the lang_id carry convention — avoids a
    join-back shuffle for callers that partition the stream)."""

    def comp(i):
        return (
            f"cast(greatest(-{q}L, least({q}L,"
            f" cast(round(cast(embedding[{i}] as double) * {q}) as bigint)))"
            " as bigint)"
        )

    return emb.select(
        "vec_id",
        *carry,
        F.posexplode(
            F.array(*[F.expr(comp(i)) for i in range(ndim)])
        ).alias("d", "val"),
    )


def kmeans_clusters(
    emb: DataFrame, k: int = 8, iters: int = 2, q: int | None = None
) -> DataFrame:
    """(vec_id, cluster): full-dimension k-means over the embedding
    column — the topic-bucketing primitive for data mixing and SemDeDup.
    Lloyd in the SAME deterministic integer space as PQ training (clamped
    micro-units, floor-div offset means, rank-spread init, (d2, cid)
    argmin tie-break), so the oracle is the PQ training CTE chain
    parameterized m=1 — but the Spark plan is the EXPLODE form, not
    pq_codes(m=1): at full dimension the explicit per-element distance
    sum becomes a ~64-term Add chain that Catalyst's constraint
    propagation re-canonicalizes combinatorially (orderCommutative inside
    InferFiltersFromConstraints — measured r4: minutes of optimizer spin
    at 100% CPU for 500 vectors), while an exploded (vec_id, d, val)
    stream keeps every expression small and every aggregate codegen'd
    with map-side combine (the r2 minhash lesson, third appearance).

    Per iteration: one broadcast join on d (corpus_dims × k rows, partial-
    combined to corpus × k before the exchange), one packed-bigint argmin
    (the _pq_assign convention), one means join+groupBy; centroids (k ×
    ndim integer rows) localCheckpoint per round.  At 100 TB: train on a
    sample, broadcast the centroids, encode distributed — identical to
    the PQ scale note."""
    q = q if q is not None else PQ_Q
    if k >= _PQ_PACK:
        raise ValueError(f"k {k} >= packing bound {_PQ_PACK}")
    ndim = _ndim(emb)
    # the training set (sample-sized at real scale) — checkpoint once so
    # every iteration scans materialized integer rows
    dims = _quant_dims(emb, q, ndim).localCheckpoint()

    def assign(cen):
        d2 = (
            dims.join(F.broadcast(cen), "d")
            .select(
                "vec_id",
                "cid",
                ((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).alias("t"),
            )
            .groupBy("vec_id", "cid")
            .agg(F.sum("t").alias("d2"))
        )
        return (
            d2.select(
                "vec_id",
                (F.col("d2") * F.lit(_PQ_PACK) + F.col("cid")).alias("packed"),
            )
            .groupBy("vec_id")
            .agg(F.min("packed").alias("packed"))
            .select(
                "vec_id", (F.col("packed") % _PQ_PACK).cast("int").alias("cid")
            )
        )

    # r6 (guide §1.2 step 1): same numpy fast path as pq_train_codebook
    # (m=1, sublen=ndim) — the training loop is deterministic integer
    # arithmetic, bit-identical collected vs distributed (the oracle IS
    # the PQ CTE chain at m=1), so sample-sized inputs skip the
    # 4-jobs-per-iteration latency; the FINAL assignment stays the
    # distributed broadcast-join + packed-argmin (broadcast centroids,
    # encode distributed — the 100 TB shape).
    if _fits_within(emb, PQ_TRAIN_MAX_ROWS):
        cb = _train_codebook_np(emb, 1, k, iters, q, ndim)
        cdata = (
            []
            if cb is None
            else [
                (c, d, int(cb[0][c][d]))
                for c in range(k)
                for d in range(ndim)
            ]
        )
        cen = emb.sparkSession.createDataFrame(
            cdata, "cid int, d int, cval bigint"
        )
        return assign(cen).select("vec_id", F.col("cid").alias("cluster"))
    n = emb.select(F.count(F.lit(1)).alias("__n"))
    rk = dims.select("vec_id").distinct().withColumn(
        "rn", F.row_number().over(Window.orderBy("vec_id"))
    )
    cids = emb.sparkSession.range(k).select(F.col("id").cast("int").alias("cid"))
    cen = (
        dims.join(rk, "vec_id")
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(cids), F.expr(f"rn = 1 + (cid * __n) div {k}"))
        .select("cid", "d", F.col("val").alias("cval"))
    ).localCheckpoint()
    for _ in range(iters):
        assigned = assign(cen)
        means = (
            dims.join(assigned, "vec_id")
            .groupBy("cid", "d")
            .agg(F.sum("val").alias("sm"), F.count(F.lit(1)).alias("cnt"))
            .select(
                "cid", "d", F.expr(f"(sm + {q} * cnt) div cnt - {q}").alias("mv")
            )
        )
        cen = (
            cen.join(means, ["cid", "d"], "left")
            .select("cid", "d", F.coalesce("mv", "cval").alias("cval"))
        ).localCheckpoint()
    return assign(cen).select("vec_id", F.col("cid").alias("cluster"))


def kcenter_coreset(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1000,
) -> DataFrame:
    """Gonzalez (1985) greedy farthest-point k-center selection — the
    2-approximation coreset every diversity-sampling pipeline reaches
    for (pick the point FARTHEST from everything picked so far):
    output (rank, vec_id, d2_sel) where d2_sel is the covering radius
    (squared, in quant-units²) the corpus had BEFORE this center was
    added — a monotone non-increasing column that doubles as the
    coverage curve; NULL for the seed (min id — deterministic).

    Exactness: components floor-quantized to integer quant-units
    (float32→double widening and the double multiply are IEEE-exact,
    floor is exact — no summation-order hazard since all sums are
    integer); farthest = packed argmax max(md * 2^20 + (2^20-1-id)),
    ties to the SMALLEST id (the component_canonical family).  Bounds
    refused per row: md < 2^42, 0 <= id < 2^20.

    Scale: the quantized (id, d, q) table localCheckpoints once and is
    reused every round; per round ONE 64-row broadcast join + one
    map-side-combinable hashagg + an O(1) scalar collect — k driver-
    sequenced rounds total (the LSS-digest collect class, documented
    like bpe_merges' bound).  min-dists update incrementally (distance
    to the NEWEST center only), so each round is O(n·dim), not
    O(n·dim·centers)."""
    if k < 1:
        raise ValueError("kcenter_coreset: k must be >= 1")
    spark = emb.sparkSession
    qe = (
        emb.select(
            F.col(id_col).cast("long").alias("id"),
            F.posexplode(vec_col).alias("p", "v"),
        )
        .select(
            "id",
            (F.col("p") + 1).alias("d"),
            F.floor(F.col("v").cast("double") * F.lit(float(quant)))
            .cast("long")
            .alias("q"),
        )
        .localCheckpoint()
    )
    seed = emb.agg(F.min(F.col(id_col).cast("long"))).collect()[0][0]
    if seed is None:
        raise ValueError("kcenter_coreset: empty input")
    picked = [(1, int(seed), None)]
    center = int(seed)
    md = None
    shift = 1 << 20
    for r in range(2, k + 1):
        cq = qe.filter(F.col("id") == F.lit(center)).select(
            "d", F.col("q").alias("cq")
        )
        diff = F.col("q") - F.col("cq")
        nd = (
            qe.join(F.broadcast(cq), "d")
            .groupBy("id")
            .agg(F.sum(diff * diff).alias("nd"))
        )
        cur = (
            nd.select("id", F.col("nd").alias("md"))
            if md is None
            else md.join(nd, "id").select(
                "id", F.least("md", "nd").alias("md")
            )
        )
        md = cur.select(
            "id",
            F.when(
                (F.col("md") >= F.lit(1 << 42))
                | (F.col("id") < 0)
                | (F.col("id") >= shift),
                F.raise_error(
                    F.lit(
                        "kcenter_coreset: md/id outside packing bounds "
                        "(md < 2^42, id < 2^20) — lower quant or repack"
                    )
                ).cast("long"),
            )
            .otherwise(F.col("md"))
            .alias("md"),
        ).localCheckpoint()
        packed = md.agg(
            F.max(
                F.col("md") * F.lit(shift) + (F.lit(shift - 1) - F.col("id"))
            )
        ).collect()[0][0]
        d2_sel = packed >> 20
        center = (shift - 1) - (packed % shift)
        picked.append((r, int(center), int(d2_sel)))
    return spark.createDataFrame(
        picked, "rank int, vec_id long, d2_sel long"
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.9,
    max_cluster_size: int = 1000,
    q: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings with k-means, then WITHIN each cluster drop every vector
    that has a smaller-id partner with cosine ≥ threshold — semantic
    near-dup pruning without any corpus-wide pairwise pass.  The sixth
    dedup family: exact / MinHash / SimHash / embedding-LSH / exact-
    substring prune SYNTACTIC duplication; this prunes semantic
    redundancy (same content re-worded) that none of them can see.
    Output: every vector with (cluster, keep).

    Survivor rule, stated precisely: keep(v) = 0 iff ∃u in v's cluster
    with u < v and round(cos(u, v), 4) ≥ threshold — DIRECT similarity
    to a smaller id, not transitive closure (the paper keeps one point
    per ε-ball; min-id-partner is its deterministic, oracle-expressible
    variant — a chain a~b~c with cos(a,c) < t keeps a AND c).

    Scale: pair volume is Σ|cluster|²/2 bounded by max_cluster_size² per
    cluster — the LSH producers' cap convention; clusters above the cap
    are SKIPPED (their members keep=1) and surface loudly in the
    semantic_dedup_overflow twin.  The cosine is the order-exact fold on
    capped clusters (oracle exactness); at real scale raise k so
    clusters shrink — cost is linear in k through the broadcast
    centroid join."""
    clusters = kmeans_clusters(emb, k=k, iters=iters, q=q)
    sizes = clusters.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    small = sizes.filter(F.col("cluster_size") <= max_cluster_size).select(
        "cluster"
    )
    ce = (
        clusters.join(F.broadcast(small), "cluster")
        .join(
            emb.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e")
            ),
            "vec_id",
        )
    )
    # r6 norms-once (the knn_bruteforce note): one dot fold per pair
    cen_ = ce.withColumn("__n", _norm_fold(F.col("e")))
    a = cen_.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("__n").alias("__na"),
    )
    b = cen_.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("__n").alias("__nb"),
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                _dot_fold(F.col("ea"), F.col("eb"))
                / (F.col("__na") * F.col("__nb")),
                4,
            )
            >= threshold
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return (
        clusters.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("__drop").isNotNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("keep"),
        )
    )


def semantic_dedup_overflow(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    max_cluster_size: int = 1000,
    q: int | None = None,
) -> DataFrame:
    """Loud-cap companion to semantic_dedup (the LSH overflow-twin
    convention): clusters whose size exceeds max_cluster_size — their
    members were NOT pair-checked and all kept.  A non-empty result says
    raise k or the cap, not that the data is clean."""
    return (
        kmeans_clusters(emb, k=k, iters=iters, q=q)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") > max_cluster_size)
    )


def _probe_lists(qdf: DataFrame, centers_df: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qe, list_id): each query's nprobe nearest lists by squared
    L2 against the tiny broadcast centers table.  Deterministic tiebreak on
    list_id; the window partitions on query_id (high cardinality — every
    vector when used for assignment), so no single-task sort at scale."""
    sqdist = F.aggregate(
        F.zip_with(F.col("qe"), F.col("center"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("list_id").asc()
    )
    return (
        qdf.crossJoin(F.broadcast(centers_df))
        .select("query_id", "qe", "list_id", sqdist.alias("dist"))
        .withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qe", "list_id")
    )


def _ivf_search(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Shared IVF probe→rescore: join probe lists against the inverted
    lists, exact-cosine re-score, top-k per query with the rounded-cosine
    deterministic ranking (ADVICE r1 — the value the oracle hashes)."""
    # r6 norms-once (the knn_bruteforce note): one dot fold per pair
    probes = probes.withColumn("__na", _norm_fold(F.col("qe")))
    assigned = assigned.withColumn("__nb", _norm_fold(F.col("emb_d")))
    cand = (
        F.broadcast(probes)
        .join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot_fold(F.col("qe"), F.col("emb_d"))
                / (F.col("__na") * F.col("__nb"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 4).alias("cos_sim"))
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 8,
    nprobe: int = 3,
    seed: int = 42,
    fit_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate nearest neighbors: KMeans coarse quantizer
    (pyspark.ml) partitions the corpus into n_lists inverted lists; each
    query scores only its nprobe nearest lists.

    Scale: the corpus-side work is one KMeans fit (sampled at 10^12 scale)
    + one narrow assignment pass; the search join touches nprobe/n_lists of
    the corpus instead of all of it.  With nprobe == n_lists the result is
    EXACTLY knn_bruteforce (tested), so recall degrades measurably and
    tunably, not silently.

    No driver collect of embeddings (VERDICT r1 #9): only the n_lists
    cluster centers cross the driver (they already live there — KMeans
    returns them); queries stay distributed and probe-assign via a
    broadcast join against the tiny centers table, so a 10k-query batch
    never serializes through the driver.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb_d"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    # at 10^12 rows the quantizer fits on a sample — list quality changes
    # smoothly with fit_fraction, and full-probe exactness is UNAFFECTED
    # (assignment still covers every vector)
    fit_df = vecs if fit_fraction is None else vecs.sample(fit_fraction, seed=seed)
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="features", predictionCol="list_id"
    ).fit(fit_df)
    assigned = model.transform(vecs).select("vec_id", "emb_d", "list_id")

    spark = emb.sparkSession
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["list_id", "center"],
    )
    qdf = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("qe")
    ).filter(F.col("query_id") < n_queries)
    probes = _probe_lists(qdf, centers_df, nprobe)
    return _ivf_search(assigned, probes, k)


def _fixed_centers(n_lists: int, ndim: int) -> list[list[float]]:
    """Deterministic IVF centers: component (c, d) ← (byte0(md5("c:d")) -
    128) / 128 ∈ [-1, 1).  Division by a power of two is exact in binary
    floats, and DuckDB rebuilds the identical value from md5's hex text —
    so list assignment is bit-reproducible cross-engine."""
    import hashlib as _hl

    return [
        [
            (_hl.md5(f"{c}:{d}".encode()).digest()[0] - 128) / 128.0
            for d in range(ndim)
        ]
        for c in range(n_lists)
    ]


def ivf_fixed_centers_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 8,
    nprobe: int = 3,
) -> DataFrame:
    """ivf_topk's ORACLE TWIN (VERDICT r2 #6): identical probe/rescore code
    (_probe_lists + _ivf_search are shared), but the coarse quantizer is a
    fixed md5-derived center matrix instead of a KMeans fit — every step is
    ANSI-SQL-expressible, so the driver hash-checks the full IVF search
    path (assignment, probe selection, inverted-list join, rescore, top-k)
    that ivf_topk could only rows-check.

    Assignment reuses _probe_lists with nprobe=1 over ALL vectors: the
    argmin window partitions on vec_id (high cardinality), one shuffle."""
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb_d")
    )
    centers_df = emb.sparkSession.createDataFrame(
        [(i, row) for i, row in enumerate(_fixed_centers(n_lists, _ndim(emb)))],
        "list_id int, center array<double>",
    )
    assigned = _probe_lists(
        vecs.select(F.col("vec_id").alias("query_id"), F.col("emb_d").alias("qe")),
        centers_df,
        nprobe=1,
    ).select(
        F.col("query_id").alias("vec_id"),
        F.col("qe").alias("emb_d"),
        "list_id",
    )
    qdf = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("qe")
    ).filter(F.col("query_id") < n_queries)
    probes = _probe_lists(qdf, centers_df, nprobe)
    return _ivf_search(assigned, probes, k)


def _hyperplane_components(n_planes: int, ndim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: plane p, dim d ← bit 0 of md5("p:d").
    Engine-independent — DuckDB reproduces each component as
    (hexval(md5(p || ':' || d)[2]) % 2), so LSH candidates are oracle-exact."""
    import hashlib as _hl

    return [
        [
            1.0 if _hl.md5(f"{p}:{d}".encode()).digest()[0] & 1 else -1.0
            for d in range(ndim)
        ]
        for p in range(n_planes)
    ]


def _ndim(emb: DataFrame) -> int:
    return emb.select(F.size("embedding").alias("d")).limit(1).collect()[0]["d"]


_PLANE_DOTS_EXPR = (
    "transform(__planes, c -> "
    "aggregate(zip_with(cast(embedding as array<double>), c, "
    "(x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v))"
)


def _with_plane_dots(emb: DataFrame, n_planes: int, ndim: int) -> DataFrame:
    """emb plus a `dots` column: the n_planes hyperplane dot products.

    The component matrix rides in as a ONE-ROW broadcast crossJoin instead
    of inline literals (VERDICT r2 #4): at dim 768 × 18 planes the literal
    form put ~14k float literals in the expression tree — catalyst
    analysis/codegen bloat that scales with ndim.  The broadcast form is a
    single BroadcastNestedLoopJoin of one row (no shuffle, no per-row hash
    cost) and the plan size is O(1) in ndim.  The fold itself is unchanged
    (init 0.0, left-to-right), so the sign decisions stay bit-reproducible
    against DuckDB's list_reduce(list_prepend(0.0, ...)) oracle."""
    comps = _hyperplane_components(n_planes, ndim)
    planes_df = emb.sparkSession.createDataFrame(
        [(comps,)], "__planes array<array<double>>"
    )
    return (
        emb.crossJoin(F.broadcast(planes_df))
        .withColumn("dots", F.expr(_PLANE_DOTS_EXPR))
        .drop("__planes")
    )


def embedding_lsh_buckets(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """Random-hyperplane LSH: sign-bit signature over deterministic
    md5-derived hyperplanes.  Docs sharing a signature are ANN candidates —
    the candidate join shrinks the O(n²) search to per-bucket blocks at
    10^12 scale.  Oracle-checked (the DuckDB side rebuilds the identical
    hyperplanes from md5)."""
    bucket = F.expr(
        f"aggregate(transform(sequence(0, {n_planes - 1}), p -> "
        "case when element_at(dots, p + 1) > cast(0.0 as double) "
        "then shiftleft(cast(1 as bigint), p) else cast(0 as bigint) end), "
        "cast(0 as bigint), (a, b) -> a + b)"
    )
    return (
        _with_plane_dots(emb, n_planes, _ndim(emb))
        .select("vec_id", "dots")
        .select("vec_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


def _embedding_bands(emb: DataFrame, n_bands: int, band_bits: int) -> DataFrame:
    """(vec_id, band, bkey) rows: the banded sign-bit LSH signature."""
    n_planes = n_bands * band_bits
    band_structs = F.expr(
        f"transform(sequence(0, {n_bands - 1}), b -> struct(b AS band, "
        f"aggregate(transform(sequence(0, {band_bits - 1}), j -> "
        f"case when element_at(dots, b * {band_bits} + j + 1) > cast(0.0 as double) "
        "then shiftleft(cast(1 as bigint), j) else cast(0 as bigint) end), "
        "cast(0 as bigint), (a, x) -> a + x) AS bkey))"
    )
    return (
        _with_plane_dots(emb, n_planes, _ndim(emb))
        .select("vec_id", "dots")
        .select("vec_id", F.explode(band_structs).alias("bb"))
        .select(
            "vec_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
        )
    )


def embedding_lsh_overflow(
    emb: DataFrame,
    n_bands: int = 6,
    band_bits: int = 3,
    *,
    max_bucket_size: int,
    bands: DataFrame | None = None,
) -> DataFrame:
    """The (band, bkey) buckets embedding_neardup_lsh DROPS under
    max_bucket_size — the loud side of the skew guard.  Materialize this
    next to the pair feed; non-empty means a degenerate vector cluster
    (e.g. zero-norm embeddings) was excluded from candidate generation.

    max_bucket_size is REQUIRED (keyword-only) and must match the paired
    producer's cap — a default here would let the audit trail disagree
    with what was actually dropped (r3 review finding).  Pass a shared
    `bands` frame to skip recomputing the banded signatures."""
    return (
        (bands if bands is not None else _embedding_bands(emb, n_bands, band_bits))
        .groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .filter(F.col("n_vecs") > max_bucket_size)
    )


def _pair_cos_numpy():
    """Vectorized cosine over (ea, eb) array columns: one numpy einsum per
    Arrow batch instead of an interpreted per-element lambda fold — the
    10-100× cheaper production rescore (r3 verdict #2; the repo's own
    measurements show higher-order lambdas are interpreted per element).

    Numerically: einsum's SIMD/pairwise summation order differs from the
    sequential left-to-right F.aggregate fold, so a cosine within ~1e-13
    of a 4dp rounding boundary COULD round differently than the fold/
    DuckDB-list_reduce path — that is why the oracle twins keep the fold
    (rescore="fold") and the differential test pins fixture-wide equality.
    Degenerate zero-norm vectors divide to ±inf/NaN exactly as Spark's
    IEEE double division does on the fold path."""

    @F.pandas_udf("double")
    def _pair_cos(ea: pd.Series, eb: pd.Series) -> pd.Series:
        if len(ea) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(ea.to_numpy())
        b = np.stack(eb.to_numpy())
        dots = np.einsum("ij,ij->i", a, b)
        den = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
            np.einsum("ij,ij->i", b, b)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(dots / den)

    return _pair_cos


def _embedding_candidate_pairs(
    emb: DataFrame,
    n_bands: int,
    band_bits: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """(id_a, id_b) distinct candidate pairs from the banded sign-bit LSH
    buckets, oversized buckets excluded when max_bucket_size is set — the
    candidate-generation stage of embedding_neardup_lsh, factored out so
    embedding_lsh_eval scores EXACTLY the shipped producer (one
    definition, the lsh_eval honesty rule)."""
    bands = _embedding_bands(emb, n_bands, band_bits)
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("__n_in_bucket")
        )
        bands = (
            bands.join(sizes, ["band", "bkey"])
            .filter(F.col("__n_in_bucket") <= max_bucket_size)
            .drop("__n_in_bucket")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()  # a pair can collide in several bands
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.8,
    n_bands: int = 6,
    band_bits: int = 3,
    max_bucket_size: int | None = None,
    rescore: str = "numpy",
) -> DataFrame:
    """Embedding near-dup PAIRS at scale (VERDICT r1 #2): banded
    random-hyperplane LSH candidates + exact cosine re-score.

    Banding (like MinHash LSH): the n_bands × band_bits sign bits are split
    into bands; vectors agreeing on ALL bits of ANY band become candidates.
    P(candidate) = 1-(1-(1-θ/π)^band_bits)^n_bands — tunable recall.  The
    self-join is per (band, band_key) bucket, so candidate volume is
    Σ|bucket|²/2 per band instead of n²/2; skewed buckets (near-zero-norm
    clusters) are bounded by band_bits.

    Output schema matches embedding_neardup_pairs (id_a, id_b, cos_sim) so
    recall is directly measurable against the exact baseline — which is now
    demoted to test oracle; THIS is the 10^12-scale pair producer.

    Measured on the sf0.01 fixture (dim-64, threshold 0.35): 6×3 bands →
    recall 0.815 overall, 1.000 for pairs with cos ≥ 0.5; 9×2 → 0.996
    overall (but 4× the candidate volume); 4×4 → 0.561.

    max_bucket_size (VERDICT r2 #3): bounds the per-bucket self-join — a
    degenerate bucket (near-zero-norm cluster, constant embeddings) would
    otherwise make one bucket's |b|² quadratic again.  Oversized buckets
    are excluded from candidate generation; `embedding_lsh_overflow`
    returns exactly the dropped buckets so the drop is observable, never
    silent.  Recall within the cap is unaffected (pairs in small buckets
    are untouched).

    rescore (r3 verdict #2): "numpy" (default — production) computes the
    exact cosine in a vectorized Arrow pandas UDF; "fold" keeps the
    sequential F.aggregate/zip_with fold whose summation ORDER matches
    DuckDB list_reduce exactly — the oracle twins pass rescore="fold".
    Both paths compute the same exact cosine; they can differ only when a
    value sits within float-summation-order noise (~1e-13) of a 4dp
    rounding boundary (differential-tested equal on the fixtures)."""
    pairs = _embedding_candidate_pairs(emb, n_bands, band_bits, max_bucket_size)
    if rescore == "numpy":
        # r6 adaptive rescore (guide §3.1/§8): when the vector table
        # provably fits the exact-pair broadcast bound (≲10 MB of f64 at
        # ndim 64), ship it ONCE as a broadcast and let the pandas UDF
        # GATHER both sides by id — the candidate stream then carries two
        # longs per pair instead of 2×ndim doubles through two joins and
        # the Arrow boundary (16× fewer boundary bytes at ndim 64).
        # Gathered rows are fresh contiguous f64 blocks, so the einsum
        # reduction is bit-identical to the stack path
        # (tests/test_r6_vectorized.py).  Above the bound: the original
        # join path — at real corpus scale the vectors cannot broadcast
        # and attaching them by equi-join IS the right plan.
        pe = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        if _fits_within(emb, MAX_EXACT_PAIR_ROWS):
            rows = sorted(pe.collect(), key=lambda r: r["vec_id"])
            idv = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
            matv = np.asarray([r["e"] for r in rows], dtype=np.float64)
            bc = emb.sparkSession.sparkContext.broadcast((idv, matv))

            @F.pandas_udf("double")
            def _gather_cos(ida: pd.Series, idb: pd.Series) -> pd.Series:
                if len(ida) == 0:
                    return pd.Series([], dtype="float64")
                idv_b, mat_b = bc.value
                a = mat_b[np.searchsorted(idv_b, ida.to_numpy())]
                b = mat_b[np.searchsorted(idv_b, idb.to_numpy())]
                dots = np.einsum("ij,ij->i", a, b)
                den = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
                    np.einsum("ij,ij->i", b, b)
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    return pd.Series(dots / den)

            return (
                pairs.select(
                    "id_a", "id_b", _gather_cos("id_a", "id_b").alias("cos")
                )
                .filter(F.round("cos", 4) >= threshold)
                .select("id_a", "id_b", F.round("cos", 4).alias("cos_sim"))
            )
        ea = pe.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
        eb = pe.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
        cos = _pair_cos_numpy()(F.col("ea"), F.col("eb"))
        return (
            pairs.join(ea, "id_a")
            .join(eb, "id_b")
            .select("id_a", "id_b", cos.alias("cos"))
            .filter(F.round("cos", 4) >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos_sim"))
        )
    if rescore != "fold":
        raise ValueError(f"rescore must be 'numpy' or 'fold', got {rescore!r}")
    # oracle path: per-vector norms once (candidates are ~|bucket|² pairs —
    # recomputing both norms per PAIR would triple the interpreted-lambda
    # rescore arithmetic)
    norm = F.sqrt(
        F.aggregate(
            F.col("e"), F.lit(0.0), lambda acc, v: acc + v * v
        )
    )
    ed = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).select("vec_id", "e", norm.alias("nrm"))
    ea = ed.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    eb = ed.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", (dot / (F.col("na") * F.col("nb"))).alias("cos"))
        .filter(F.round("cos", 4) >= threshold)  # boundary-safe (see above)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos_sim"))
    )


def kmv_sketches(
    docs: DataFrame, k: int = 32, group_col: str = "lang"
) -> DataFrame:
    """Bottom-k (KMV / minimum-values) distinct-value sketch per group
    over the token stream: the k smallest 40-bit md5 token hashes —
    the third mergeable sketch next to HLL and CMS, and the one that
    additionally supports SET operations (union/Jaccard between
    sketches, kmv_lang_jaccard) that HLL registers cannot.

    (grp, pos, hv): pos = 1-based rank of hv among the group's distinct
    token hashes.  Hash = first 10 md5 hex digits (the dataset_digest
    convention, _hex_int_sql twin); distinct applied on the HASH so a
    40-bit collision cannot double-count in either engine.

    Scale: the distinct is a map-side-combinable groupBy on
    (group, hash); the rank window then sorts each group's DISTINCT
    HASH table (vocabulary-sized, not corpus-sized) — the standard KMV
    build.  For 10^8+-token vocabularies pre-filter with a static
    threshold (hv < k * 2^40 div expected_min_distinct * safety) before
    the window; not needed at these SFs, documented for scale."""
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator needs h_k)")
    hv = F.conv(F.substring(F.md5(F.col("tok")), 1, 10), 16, 10).cast(
        "long"
    )
    hashes = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .select("grp", hv.alias("hv"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("hv")
    return (
        hashes.withColumn("pos", F.row_number().over(w).cast("int"))
        .filter(F.col("pos") <= k)
        .select("grp", "pos", "hv")
    )


def kmv_estimate(
    docs: DataFrame, k: int = 32, group_col: str = "lang"
) -> DataFrame:
    """KMV distinct-count estimate per group: (k-1) * 2^40 div h_k with
    h_k = the k-th smallest hash (Bar-Yossef et al. 2002) — integer
    division, engine-exact.  Groups with fewer than k distinct hashes
    report their EXACT count (n_kept < k ⇒ the sketch IS the set).
    Scale: kmv_sketches + one tiny per-group aggregate."""
    sk = kmv_sketches(docs, k=k, group_col=group_col)
    agg = sk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("hv").alias("hk"),
    )
    return agg.select(
        "grp",
        "n_kept",
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(
            F.expr(f"({k} - 1) * {2**40} div greatest(hk, 1)")
        )
        .alias("distinct_est"),
    )


def kmv_lang_jaccard(
    docs: DataFrame, k: int = 32, group_col: str = "lang"
) -> DataFrame:
    """Pairwise group-vocabulary Jaccard estimates from the KMV
    sketches: for groups (a < b), take the k smallest hashes of the
    UNION of the two sketches; est = |members of that union-sketch
    present in BOTH sketches| * 1000 div |union-sketch| (the standard
    KMV resemblance estimator — on sub-k vocabularies it degenerates
    to the EXACT Jaccard because the sketches are the sets).

    Scale: sketches are k rows per group — the pair join is sketch x
    sketch (tiny), never corpus-sized; groups = languages, so the pair
    space is bounded."""
    sk = kmv_sketches(docs, k=k, group_col=group_col).localCheckpoint()
    # union stream per (grp_a, grp_b) pair: tag membership
    ga = sk.select(F.col("grp").alias("grp_a"), F.col("hv").alias("hv"))
    gb = sk.select(F.col("grp").alias("grp_b"), F.col("hv").alias("hv"))
    grps = sk.select("grp").distinct()
    pairs = (
        grps.alias("x")
        .join(grps.alias("y"), F.col("x.grp") < F.col("y.grp"))
        .select(
            F.col("x.grp").alias("grp_a"), F.col("y.grp").alias("grp_b")
        )
    )
    un = (
        pairs.join(ga, "grp_a")
        .select("grp_a", "grp_b", "hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(gb, "grp_b").select(
                "grp_a", "grp_b", "hv",
                F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
            )
        )
        .groupBy("grp_a", "grp_b", "hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("hv")
    unk = un.withColumn(
        "pos", F.row_number().over(w).cast("int")
    ).filter(F.col("pos") <= k)
    return unk.groupBy("grp_a", "grp_b").agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(
            (F.col("in_a") * F.col("in_b")).cast("long")
        ).alias("n_both"),
    ).select(
        "grp_a",
        "grp_b",
        "n_union",
        "n_both",
        F.expr("n_both * 1000 div n_union").alias("jaccard_est_milli"),
    )


def mirror_hosts(docs: DataFrame, host_col: str = "host") -> DataFrame:
    """Mirror-site detection: host pairs serving an IDENTICAL content
    multiset — the crawl-budget killer (a mirrored wiki farm fetches N
    times, trains once).  Per host: (n_docs, order-free sum of 40-bit
    md5 TEXT hashes — ids and urls differ across mirrors, content does
    not); hosts join on the exact (n_docs, content_sum) digest pair.

    A digest collision (two different content sets summing equal) is
    possible in principle — the output is a CANDIDATE pair list for a
    cheap per-pair exact confirm, the LSH-producer contract (here the
    false-positive rate is ~2^-40 per pair, and false NEGATIVES are
    impossible: identical multisets always digest equal).

    Scale: one groupBy(host) + one self-equi-join on the digest value —
    the join side is hosts-sized, not docs-sized; no pair explosion
    because equal-digest groups are mirror families (small)."""
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 10), 16, 10).cast(
        "long"
    )
    dig = (
        docs.select(F.col(host_col).alias("host"), h.alias("h"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("h").alias("content_sum"),
        )
    )
    a = dig.select(
        F.col("host").alias("host_a"), "n_docs", "content_sum"
    )
    b = dig.select(
        F.col("host").alias("host_b"),
        F.col("n_docs").alias("n_b"),
        F.col("content_sum").alias("cs_b"),
    )
    return (
        a.join(
            b,
            (F.col("n_docs") == F.col("n_b"))
            & (F.col("content_sum") == F.col("cs_b"))
            & (F.col("host_a") < F.col("host_b")),
        )
        .select("host_a", "host_b", "n_docs", "content_sum")
    )


def dataset_digest(
    docs: DataFrame, n_shards: int = 16, group_col: str = "lang"
) -> DataFrame:
    """Per-(group, shard) order-free content digest — the dataset
    versioning / drift-detection primitive: two snapshots of a corpus
    are row-identical within a shard iff (n_rows, content_sum) match,
    so a 100 TB refresh compares a few thousand digest rows instead of
    re-reading either copy, and a mismatched shard pinpoints WHERE to
    run the expensive row diff.

    Row hash = first 10 hex digits of md5(doc_id || ':' || text) — 40
    bits, so a LongType sum stays exact through 2^22 (~4M) rows per
    shard; at larger shards raise n_shards (digests merge by addition:
    the sum/count pair is a commutative monoid, exactly the
    groupBy(max) HLL-register merge story but for exact equality).
    Same 40-bit truncation in the DuckDB twin via _hex_int_sql.

    Scale: one projection + one map-side-combinable groupBy on
    (group, shard) — no join, no window, no distinct.  Shard =
    pmod(doc_id, n_shards) keeps a row's digest cell stable across
    snapshots so per-cell comparison is meaningful."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    # F.concat, NOT concat_ws: the DuckDB twin's '||' is
    # null-propagating, so a NULL text must hash to NULL in BOTH
    # engines (sum skips it, count still counts the row) — concat_ws
    # would silently hash 'id' on the Spark side only (r5 s4 review
    # finding; latent until the first NULL-text row)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.col("text")
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(
            F.col(group_col).alias("grp"),
            F.pmod(F.col("doc_id"), F.lit(n_shards)).alias("shard"),
            h.alias("h"),
        )
        .groupBy("grp", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").alias("content_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Sketches (r4): fixed-size distributed summaries — the 100 TB tools for
# sizing and steering the expensive exact jobs (HLL cardinality before
# provisioning a dedup shuffle; CMS heavy hitters for stop-shingle /
# boilerplate lists without a full-vocabulary groupBy).  Both are built
# from md5-derived integer hashes so the DuckDB oracles reproduce every
# register and counter bit-for-bit; all aggregation is integer and
# map-side combinable.
# ---------------------------------------------------------------------------

def _hll_alpha_micro(m: int) -> int:
    """HyperLogLog bias constant alpha_m = 0.7213/(1 + 1.079/m) (Flajolet
    et al. 2007, m >= 128), fixed-point in micro-units so the estimate is
    integer arithmetic end to end — one module-level constant shared with
    the oracle SQL (the QF_* convention)."""
    return round(1_000_000 * 0.7213 / (1 + 1.079 / m))


def _hll_reg_rho(p: int):
    """(register, rho) column pair for the gram column `g`.

    register = first p/4 hex digits of md5(g)  (p must be a multiple of 4
    so the register is a whole-hex-digit prefix — keeps both engines on
    substring arithmetic instead of bit twiddling);
    w        = next 8 hex digits as a 32-bit integer;
    rho      = 33 - bitlength(w), i.e. 1 + count of leading zeros in w's
               32-bit representation.  Convention: w = 0 yields bitlength
               1 (both engines render "0") hence rho = 32 — a truncated
               variant of the textbook rho = 33, identical cross-engine
               and hit with probability 2^-32 per gram.
    """
    if p % 4 != 0 or not 4 <= p <= 12:
        raise ValueError(f"p must be 4, 8, or 12 (whole hex digits), got {p}")
    reg = F.expr(f"cast(conv(substring(md5(g), 1, {p // 4}), 16, 10) as bigint)")
    # hex → binary directly; conv strips leading zeros, so length IS the
    # bitlength of the 32-bit word ("0" for w = 0, length 1 → rho 32)
    rho = F.expr(
        f"cast(33 - length(conv(substring(md5(g), {p // 4 + 1}, 8), 16, 2))"
        " as bigint)"
    )
    return reg, rho


def hll_registers(docs: DataFrame, p: int = 8, n: int = 3) -> DataFrame:
    """HyperLogLog register table over the word n-gram stream: register →
    max(rho).  This IS the sketch — m = 2^p rows regardless of corpus
    size, mergeable across any partitioning of the input by the same
    groupBy(max), which is exactly how you union per-crawl sketches at
    scale without touching raw data again.

    Scale: one map-side-combinable groupBy over the gram stream; the
    exchange carries at most m rows per mapper.  No floats anywhere."""
    reg, rho = _hll_reg_rho(p)
    return (
        _gram_stream(docs, n)
        .select(reg.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(docs: DataFrame, p: int = 8, n: int = 3) -> DataFrame:
    """One-row HyperLogLog cardinality estimate from hll_registers.

    Integer end to end (the micro-unit convention): with S = sum over all
    m registers of 2^(32 - max_rho) (empty registers contribute 2^32,
    i.e. rho = 0), the raw estimate is

        est_hll = alpha_micro * ((m^2 * 2^32) div S) div 10^6

    — divisions ordered so every intermediate fits LongType for p <= 12
    (m^2*2^32 = 2^(2p+32) <= 2^56; div S >= m first, then the ~2^20
    alpha multiply).  Small-range correction (linear counting): when
    empty registers exist and est_hll <= 5m/2,

        est_linear = m * floor(10^6 * ln(m / n_empty)) div 10^6 .

    The ln() is the one transcendental; its micro-nat floor carries the
    same residual 1-ulp boundary risk unigram_surprisal documents.  `est`
    selects linear counting under the standard condition, else est_hll.

    Accuracy: sigma ~ 1.04/sqrt(m) — 6.5% at p=8; the fixture test checks
    the estimate lands within 3 sigma of the exact distinct count."""
    m = 1 << p
    alpha = _hll_alpha_micro(m)
    regs = hll_registers(docs, p=p, n=n)
    filled = regs.agg(
        F.count(F.lit(1)).alias("n_filled"),
        F.sum(F.expr("cast(pow(2, 32 - max_rho) as bigint)")).alias("s_filled"),
    )
    return _hll_estimate_projection(filled, m, alpha, keys=[])


def _hll_estimate_projection(
    filled: DataFrame, m: int, alpha: int, keys: list[str]
) -> DataFrame:
    """The integer HLL estimate formula over a (n_filled, s_filled) frame
    — ONE definition shared by the global estimate and the per-group
    variant so the micro-unit arithmetic (and its overflow-safe division
    order) cannot drift between them.  `keys` are group columns carried
    through unchanged (empty for the global one-row form)."""
    return filled.select(
        *keys,
        F.lit(m).cast("long").alias("m"),
        (F.lit(m) - F.col("n_filled")).cast("long").alias("n_empty"),
        F.expr(f"s_filled + ({m} - n_filled) * 4294967296").alias("s_scaled"),
    ).select(
        *keys,
        "m",
        "n_empty",
        "s_scaled",
        F.expr(
            f"{alpha} * (({m}L * {m}L * 4294967296L) div s_scaled) div 1000000"
        ).alias("est_hll"),
        F.expr(
            f"case when n_empty > 0 then"
            f" {m} * cast(floor(1000000 * ln({m} / cast(n_empty as double))) as bigint)"
            f" div 1000000 else null end"
        ).alias("est_linear"),
    ).select(
        *keys,
        "m",
        "n_empty",
        "s_scaled",
        "est_hll",
        "est_linear",
        F.expr(
            f"case when n_empty > 0 and est_hll <= {5 * m} div 2"
            f" then est_linear else est_hll end"
        ).alias("est"),
    )


def hll_registers_by_group(
    docs: DataFrame, group_col: str = "lang", p: int = 8, n: int = 3
) -> DataFrame:
    """Per-group HyperLogLog register table: (group, register, max_rho) —
    the sketch-groupBy you run at 100 TB instead of exact distinct-per-
    group (distinct n-grams per language / per host): m = 2^p rows PER
    GROUP however large the corpus, mergeable across crawls by the same
    groupBy(group, register).agg(max).

    The group column rides through the gram explode (_gram_stream carry=)
    — no join back to the corpus; the exchange carries at most
    groups × m rows per mapper after map-side combine."""
    reg, rho = _hll_reg_rho(p)
    gs = _gram_stream(docs, n, carry=(group_col,))
    return (
        gs.select(group_col, reg.alias("register"), rho.alias("rho"))
        .groupBy(group_col, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate_by_group(
    docs: DataFrame, group_col: str = "lang", p: int = 8, n: int = 3
) -> DataFrame:
    """Per-group HLL cardinality estimates — hll_estimate's exact integer
    formula (shared projection) applied per group of
    hll_registers_by_group.  One output row per group; same small-range
    linear-counting switch per group."""
    m = 1 << p
    alpha = _hll_alpha_micro(m)
    regs = hll_registers_by_group(docs, group_col=group_col, p=p, n=n)
    filled = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_filled"),
        F.sum(F.expr("cast(pow(2, 32 - max_rho) as bigint)")).alias("s_filled"),
    )
    return _hll_estimate_projection(filled, m, alpha, keys=[group_col])


def _cms_cells(d: int, w: int):
    """The d (row, col) hash cells for gram column `g` as one codegen'd
    array-of-structs (shared by the batch sketch, the probe side, and the
    streaming twin — one hash definition, three consumers)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.expr(
                    f"cast(conv(substring(md5('{i}:' || g), 1, 8), 16, 10)"
                    f" % {w} as int)"
                ).alias("col"),
            )
            for i in range(d)
        ]
    )


def cms_sketch(docs: DataFrame, n: int = 3, d: int = 4, w: int = 512) -> DataFrame:
    """Count-min sketch of the word n-gram OCCURRENCE stream (multiset,
    not per-doc distinct): d x w counters, cell (i, col_i(g)) summed over
    every occurrence, col_i(g) = int(md5(i ++ ':' ++ g)[:8 hex]) mod w.

    The d hash rows ride as one codegen'd array-of-structs explode (no
    higher-order lambdas — the r3 measured catalog); the sketch itself is
    a map-side-combinable groupBy whose exchange carries at most d*w rows
    per mapper, and the result (<= d*w rows total) is broadcast-sized by
    construction, which is the point: at 100 TB the sketch fits in one
    executor's L2."""
    stream = _gram_stream(docs, n)
    return (
        stream.select(F.explode(_cms_cells(d, w)).alias("c"))
        .select(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_topk(
    docs: DataFrame,
    n: int = 3,
    d: int = 4,
    w: int = 512,
    k: int = 20,
) -> DataFrame:
    """Heavy-hitter n-grams by count-min estimate: est(g) = min over the d
    rows of sketch[i, col_i(g)], ranked (est DESC, gram ASC) — the
    stop-shingle / boilerplate-phrase detector, all-integer so the rank
    and estimate are engine-exact.

    The candidate set here is the corpus's distinct grams (exact at test
    scale and it makes est >= true verifiable per gram); at 100 TB you
    keep the sketch and probe it with a rolled-up or sampled candidate
    stream instead — the probe side is a broadcast join against <= d*w
    cells either way, so only candidate enumeration changes.  true_cnt is
    retained alongside est to surface the sketch's one-sided error
    (est >= true always; equality iff no collisions on the min row)."""
    sketch = cms_sketch(docs, n=n, d=d, w=w)
    grams = _gram_stream(docs, n).groupBy("g").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    probes = grams.select(
        "g", "true_cnt", F.explode(_cms_cells(d, w)).alias("c")
    ).select("g", "true_cnt", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    est = (
        probes.join(F.broadcast(sketch), ["row", "col"])
        .groupBy("g", "true_cnt")
        .agg(F.min("cnt").alias("est"))
    )
    # top-k via orderBy().limit(k) → TakeOrderedAndProject (the r3 top-k
    # convention: per-partition heads + one k-row merge, never an Exchange
    # SinglePartition), rank derived over the k survivors
    top = est.orderBy(F.col("est").desc(), F.col("g")).limit(k)
    wnd = Window.orderBy(F.col("est").desc(), F.col("g"))
    return top.withColumn("rank", F.row_number().over(wnd)).select(
        F.col("g").alias("gram"), "est", "true_cnt", "rank"
    )


# ---------------------------------------------------------------------------
# Product quantization (r4): the memory lever past int8 — 64-dim float
# vectors compress to m small codes and candidate distance becomes m table
# lookups (ADC, Jégou et al. 2011).  Design decisions are MEASURED, not
# assumed (numpy prototype over the sf0.01 embeddings, recall@5 vs exact
# L2 for 10 queries): fixed md5-random codebooks rank at 0.06 — useless on
# this near-uniform data (nearest-neighbor dist 1.26 vs median 1.97), and
# even trained 8x16 direct ADC ranking only reaches ~0.2.  What works is
# (a) TRAINED codebooks via k-means and (b) the FAISS-style TWO-STAGE
# search: integer-ADC shortlist, then exact rescore of the shortlist —
# m=16, K=64, 2 Lloyd iterations, shortlist 50 measures 0.94 (1.0 at
# m=32); shortlist 100 reaches 0.98.
#
# Oracle-exactness strategy: train in QUANTIZED INTEGER space.  Components
# become round(x * 4096) clamped to ±4096; squared-L2 folds, argmins, and
# centroid means are then all integer arithmetic — order-free, no float
# drift, and the floor-division mean uses the offset trick
# (sum + Q*cnt) div cnt - Q so Spark `div` (truncating) and DuckDB `//`
# (flooring) agree despite negative sums.  The only floats anywhere are
# the final exact-rescore fold (the established order-exact F.aggregate ≡
# list_reduce convention) and its 4dp-rounded rank key.
# ---------------------------------------------------------------------------

PQ_Q = 4096  # component quantization scale; |x| < 1 holds for the corpus
             # (max |component| 0.58 at sf0.1) and the clamp makes the
             # floor-div offset trick safe regardless


def _pq_subq(emb: DataFrame, m: int, sublen: int, q: int = PQ_Q) -> DataFrame:
    """(vec_id, sub, subq: array<bigint>): each vector sliced into m
    contiguous subvectors with components quantized to round(x*q) clamped
    to ±q.  Built from per-element codegen'd exprs (m*sublen = ndim of
    them), not higher-order lambdas."""
    def comp(i):
        return (
            f"cast(greatest(-{q}L, least({q}L,"
            f" cast(round(cast(embedding[{i}] as double) * {q}) as bigint)))"
            " as bigint)"
        )

    slices = F.array(
        *[
            F.array(*[F.expr(comp(s * sublen + d)) for d in range(sublen)])
            for s in range(m)
        ]
    )
    out = emb.select("vec_id", F.posexplode(slices).alias("sub", "subq"))
    # the downstream broadcast-join expands this stream x n_centroids; a
    # narrow-input table (the sf fixtures arrive as ONE parquet partition)
    # would run that expansion single-threaded — spread the cheap integer
    # rows BEFORE the expansion (measured r4: 4.6 s -> sub-second assign).
    # At real scale the input is already wide and this exchange is small
    # relative to the expansion it parallelizes.
    sc = emb.sparkSession.sparkContext
    if emb.rdd.getNumPartitions() < sc.defaultParallelism:
        out = out.repartition(sc.defaultParallelism, "vec_id", "sub")
    return out


def _pq_int_sqdist(a: str, b: str, sublen: int):
    """Integer squared L2 between two array<bigint> columns as an EXPLICIT
    codegen'd sum (element_at terms) — integer addition is order-free, so
    unlike the float oracle folds this can skip the interpreted
    aggregate/zip_with lambda (measured r4: the lambda form put pq_topk
    at 16.4 s at sf0.1; corpus x centroids x sublen interpreted evals are
    the cost)."""
    terms = " + ".join(
        f"(element_at({a}, {i}) - element_at({b}, {i}))"
        f" * (element_at({a}, {i}) - element_at({b}, {i}))"
        for i in range(1, sublen + 1)
    )
    return F.expr(f"cast({terms} as bigint)")


_PQ_PACK = 1 << 20  # argmin packing shift; requires n_centroids < 2^20


def _pq_assign(
    subq: DataFrame, cen: DataFrame, sublen: int, with_components: bool = False
) -> DataFrame:
    """(vec_id, sub, cid): nearest centroid per subvector by integer L2,
    ties on cid.

    The argmin is min(d2 * 2^20 + cid) — ONE bigint min, which plans as a
    fully codegen'd HashAggregate with a map-side partial combine, so the
    corpus x n_centroids candidate stream reduces to one row per
    (vec_id, sub) BEFORE any exchange.  Two rejected forms, both measured
    r4 at sf0.1: a row_number window sorted the full candidate stream
    (the sort, not the distance arithmetic, was the cost); min(struct(d2,
    cid)) + first(subq) planned as SortAggregate + ObjectHashAggregate (a
    struct Min has no mutable codegen buffer) — 9 Sorts in the ivfpq plan
    and a 2.6x wall regression.  The packing is exact: d2 <= sublen*(2q)^2
    stays under 2^43 for any real ndim, so packed < 2^63; min-packed =
    (min d2, tie min cid), identical to the lexicographic tie-break the
    DuckDB oracle replicates.

    with_components=True adds c1..c{sublen} (the subvector values) to the
    output — every candidate row of a group carries the identical
    subvector, so first() is deterministic here, and first() over
    fixed-width longs stays inside the same codegen'd HashAggregate (the
    alternative, a join-back on (vec_id, sub), cost two extra shuffles
    per training iteration)."""
    comp = [
        F.element_at("subq", i).alias(f"c{i}") for i in range(1, sublen + 1)
    ]
    cand = subq.join(F.broadcast(cen), "sub").select(
        "vec_id",
        "sub",
        (
            _pq_int_sqdist("subq", "cen", sublen) * F.lit(_PQ_PACK)
            + F.col("cid")
        ).alias("packed"),
        *(comp if with_components else []),
    )
    aggs = [F.min("packed").alias("packed")] + (
        [F.first(f"c{i}").alias(f"c{i}") for i in range(1, sublen + 1)]
        if with_components
        else []
    )
    keep = [f"c{i}" for i in range(1, sublen + 1)] if with_components else []
    return (
        cand.groupBy("vec_id", "sub")
        .agg(*aggs)
        .select(
            "vec_id",
            "sub",
            (F.col("packed") % _PQ_PACK).cast("int").alias("cid"),
            *keep,
        )
    )


PQ_TRAIN_MAX_ROWS = 1 << 18
"""r6: max rows for the collected numpy Lloyd trainer (≈128 MB of int64
subvectors at ndim 64) — the documented 100 TB recipe trains on a sample
of about this size anyway; bigger inputs take the distributed loop."""


def _train_codebook_np(
    emb: DataFrame, m: int, n_centroids: int, iters: int, q: int, sublen: int
):
    """numpy core of the integer-Lloyd trainer (r6): collects the
    SPARK-quantized subvectors (same round/clamp exprs as _pq_subq —
    quantization semantics never re-implemented) and runs the identical
    deterministic integer loop: rank-spread init over ascending vec_id,
    (d2, cid) argmin (np.argmin's first-minimum == the packed-bigint
    min's lowest-cid tie-break), offset floor-div means, empty clusters
    keep their centroid.  Returns an (m, K, sublen) int64 codebook, or
    None for an empty input.  Bit-parity with the distributed loop is
    pinned by tests/test_pq.py and tests/test_r6_vectorized.py."""

    def comp(i):
        return (
            f"cast(greatest(-{q}L, least({q}L,"
            f" cast(round(cast(embedding[{i}] as double) * {q}) as bigint)))"
            " as bigint)"
        )

    arr = F.array(*[F.expr(comp(i)) for i in range(m * sublen)])
    rows = sorted(
        emb.select("vec_id", arr.alias("qv")).collect(),
        key=lambda r: r["vec_id"],
    )
    n = len(rows)
    if n == 0:
        return None
    K = n_centroids
    X = np.asarray([r["qv"] for r in rows], dtype=np.int64).reshape(
        n, m, sublen
    )
    cb = np.stack(
        [X[[(c * n) // K for c in range(K)], s, :] for s in range(m)]
    )

    def assign(Xs, cbs, chunk=8192):
        out = np.empty(len(Xs), dtype=np.int64)
        for lo in range(0, len(Xs), chunk):  # bound the (chunk,K,sublen) temp
            blk = Xs[lo : lo + chunk]
            d2 = ((blk[:, None, :] - cbs[None, :, :]) ** 2).sum(-1)
            out[lo : lo + chunk] = np.argmin(d2, axis=1)
        return out

    for _ in range(iters):
        for s in range(m):
            Xs = X[:, s, :]
            a = assign(Xs, cb[s])
            for c in range(K):
                pts = Xs[a == c]
                if len(pts):
                    cb[s][c] = (pts.sum(0) + q * len(pts)) // len(pts) - q
    return cb


def _pq_train_codebook_numpy(
    emb: DataFrame, m: int, n_centroids: int, iters: int, q: int, sublen: int
) -> DataFrame:
    """DataFrame wrapper of _train_codebook_np in pq_train_codebook's
    output schema (sub, cid, cen: array<bigint>)."""
    cb = _train_codebook_np(emb, m, n_centroids, iters, q, sublen)
    schema = "sub int, cid int, cen array<bigint>"
    if cb is None:
        return emb.sparkSession.createDataFrame([], schema)
    data = [
        (s, c, [int(x) for x in cb[s][c]])
        for s in range(m)
        for c in range(n_centroids)
    ]
    return emb.sparkSession.createDataFrame(data, schema)


def pq_train_codebook(
    emb: DataFrame,
    m: int = 16,
    n_centroids: int = 64,
    iters: int = 2,
    q: int = PQ_Q,
) -> DataFrame:
    """(sub, cid, cen: array<bigint>): per-subspace codebooks trained by
    deterministic integer-space Lloyd iterations.

    Init is the rank-spread data points (the c*N div K-th vector by
    vec_id rank) — deterministic and data-dependent; the rank runs over a
    GLOBAL window, fine for the fixture and for any sampled training set,
    which is what you'd feed this at 100 TB anyway (train on a ~1M-row
    sample, then encode the corpus with the broadcast codebook — encoding
    is the distributed stage, training never needs the full corpus).

    Update step: element-wise integer mean via (sum + q*cnt) div cnt - q
    (offset keeps the numerator non-negative, where Spark's truncating
    div and DuckDB's flooring // agree); empty clusters keep their old
    centroid via left-join coalesce.  Each iteration's codebook (m*K
    rows) is localCheckpointed — the pagerank lesson: without it every
    later stage re-executes the whole training subtree.

    r6 (guide §1.2 step 1): training is sample-sized BY DESIGN (the
    100 TB recipe above trains on a sample and broadcasts the
    codebook), and the whole loop is deterministic INTEGER arithmetic
    proven bit-identical to a numpy replica
    (tests/test_pq.py::test_codes_match_numpy_replica).  So when the
    input provably fits PQ_TRAIN_MAX_ROWS, the SPARK-quantized
    subvectors are collected once and the Lloyd loop runs as numpy
    argmin/bincount — identical codebook, none of the per-iteration
    broadcast-join + double-localCheckpoint job latency (the r5 cost:
    ~6 jobs/iteration for 32k integer rows).  Quantization stays IN
    SPARK (collected, not re-derived) so round()'s HALF_UP decimal
    semantics are never re-implemented.  Above the bound the original
    distributed loop runs unchanged."""
    ndim = _ndim(emb)
    if ndim % m != 0:
        raise ValueError(f"ndim {ndim} not divisible by m {m}")
    if n_centroids >= _PQ_PACK:
        raise ValueError(f"n_centroids {n_centroids} >= packing bound {_PQ_PACK}")
    sublen = ndim // m
    if _fits_within(emb, PQ_TRAIN_MAX_ROWS):
        return _pq_train_codebook_numpy(emb, m, n_centroids, iters, q, sublen)
    subq = _pq_subq(emb, m, sublen, q).localCheckpoint()
    n = emb.select(F.count(F.lit(1)).alias("__n"))
    rk = subq.select("vec_id").distinct().withColumn(
        "rn", F.row_number().over(Window.orderBy("vec_id"))
    )
    cids = emb.sparkSession.range(n_centroids).select(
        F.col("id").cast("int").alias("cid")
    )
    cen = (
        subq.join(rk, "vec_id")
        .crossJoin(F.broadcast(n))
        .join(
            F.broadcast(cids),
            F.expr(f"rn = 1 + (cid * __n) div {n_centroids}"),
        )
        .select("sub", "cid", F.col("subq").alias("cen"))
    ).localCheckpoint()
    for _ in range(iters):
        assigned = _pq_assign(subq, cen, sublen, with_components=True)
        # element-wise mean as ONE codegen'd hashagg: sublen per-index
        # sums + a count, assembled index-ordered with F.array (an earlier
        # posexplode -> groupBy(sub,cid,d) -> collect_list(struct) form
        # cost an extra shuffle plus an ObjectHashAggregate per iteration)
        means = (
            assigned.groupBy("sub", "cid")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                *[
                    F.sum(f"c{i}").alias(f"s{i}")
                    for i in range(1, sublen + 1)
                ],
            )
            .select(
                "sub",
                "cid",
                F.array(
                    *[
                        F.expr(f"(s{i} + {q} * cnt) div cnt - {q}")
                        for i in range(1, sublen + 1)
                    ]
                ).alias("new_cen"),
            )
            # materialize BEFORE the cen join (m*K rows — trivial): with the
            # raw plan, the join's constraint inference
            # (InferFiltersFromConstraints) canonicalizes the sublen-term
            # distance Add chain via orderCommutative over and over —
            # measured r4: sublen=64 (kmeans_clusters) spun the optimizer
            # for minutes at 100% CPU on 8 output rows; a checkpointed
            # means is a plain scan and the join plans instantly
        ).localCheckpoint()
        cen = (
            cen.join(means, ["sub", "cid"], "left")
            .select(
                "sub", "cid", F.coalesce("new_cen", "cen").alias("cen")
            )
        ).localCheckpoint()
    return cen


def pq_codes(
    emb: DataFrame,
    m: int = 16,
    n_centroids: int = 64,
    iters: int = 2,
    q: int = PQ_Q,
) -> DataFrame:
    """PQ encoding against the trained codebook: (vec_id, sub, code) —
    ndim floats → m integer codes per vector (16 6-bit codes here: 21x
    smaller than float32, the tier past int8's 4x).  Encoding is one
    broadcast join + argmin window over the corpus — the distributed
    stage; training (see pq_train_codebook) is sample-sized."""
    sublen = _ndim(emb) // m
    cen = pq_train_codebook(emb, m=m, n_centroids=n_centroids, iters=iters, q=q)
    subq = _pq_subq(emb, m, sublen, q)
    return _pq_assign(subq, cen, sublen).select(
        "vec_id", "sub", F.col("cid").alias("code")
    )


def pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = 16,
    n_centroids: int = 64,
    iters: int = 2,
    shortlist: int = 50,
    q: int = PQ_Q,
) -> DataFrame:
    """Two-stage PQ search (measured 0.94 recall@5 at these defaults):

    1. integer-ADC shortlist — each query builds an m x K lookup table of
       integer subvector distances against the codebook (broadcast-sized),
       a neighbor's coarse distance is the SUM of its m table entries
       (integer, order-free), and the top `shortlist` by (adc, vec_id)
       survive;
    2. exact rescore — the shortlist joins back to raw vectors and ranks
       by the order-exact double L2 fold, rounded to 4dp with the knn
       tie-break convention.

    Scale: the corpus-sized work is one broadcast join carrying integer
    codes (stage 1) plus `shortlist` exact folds per query (stage 2);
    raw vectors are only touched for shortlist rows."""
    sublen = _ndim(emb) // m
    cen = pq_train_codebook(emb, m=m, n_centroids=n_centroids, iters=iters, q=q)
    subq = _pq_subq(emb, m, sublen, q)
    codes = _pq_assign(subq, cen, sublen).select(
        "vec_id", "sub", F.col("cid").alias("code")
    )
    qsub = _pq_subq(emb.filter(F.col("vec_id") < n_queries), m, sublen, q)
    adc = (
        qsub.join(F.broadcast(cen), "sub")
        .select(
            F.col("vec_id").alias("query_id"),
            "sub",
            F.col("cid").alias("code"),
            _pq_int_sqdist("subq", "cen", sublen).alias("pdist"),
        )
    )
    coarse = (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdist").alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    short = (
        coarse.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    ed = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    exact = (
        short.join(
            ed.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe")),
            "query_id",
        )
        .join(
            ed.select(
                F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne")
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", _pq_sqdist("qe", "ne").alias("dist"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.round("dist", 4).asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("dist", 4).alias("pqdist")
        )
    )


def _pq_sqdist(a: str, b: str):
    """Fold-order-exact squared L2 between two array<double> columns
    (matches DuckDB list_reduce over list_prepend(0.0, ...) term by term —
    the oracle-anchoring fold; see the r3 rule about NOT swapping these
    for numpy)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 8,
    nprobe: int = 3,
    m: int = 16,
    n_centroids: int = 64,
    iters: int = 2,
    shortlist: int = 50,
    q: int = PQ_Q,
) -> DataFrame:
    """IVF + PQ composed — the shape a 100 TB ANN service actually runs
    (FAISS IVFPQ): route each query to nprobe of n_lists coarse
    partitions (fixed md5 centers, the oracle-exact ivf_fixed twin), scan
    ONLY those lists' PQ codes with the integer ADC tables, then exact-
    rescore the shortlist.  Corpus-sized work drops from |corpus| ADC
    sums (pq_topk) to sum of probed-list sizes, and the probed data is
    integer codes — raw vectors are touched only for shortlist rows.

    Composition is by reuse, not reimplementation: coarse routing shares
    _fixed_centers/_probe_lists with ivf_fixed_centers_topk; encoding and
    ADC share pq_train_codebook/_pq_assign/_pq_int_sqdist with pq_topk;
    the rescore is the same order-exact fold.  Rank convention: integer
    (adc, vec_id) for the shortlist, (round(dist,4), neighbor_id) for
    the final k."""
    ndim = _ndim(emb)
    sublen = ndim // m
    # --- coarse quantizer: assignment (nprobe=1 over all) + query probes
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb_d")
    )
    centers_df = emb.sparkSession.createDataFrame(
        [(i, row) for i, row in enumerate(_fixed_centers(n_lists, ndim))],
        "list_id int, center array<double>",
    )
    assigned = _probe_lists(
        vecs.select(F.col("vec_id").alias("query_id"), F.col("emb_d").alias("qe")),
        centers_df,
        nprobe=1,
    ).select(F.col("query_id").alias("vec_id"), "list_id")
    qdf = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("qe")
    ).filter(F.col("query_id") < n_queries)
    probes = _probe_lists(qdf, centers_df, nprobe).select("query_id", "list_id")
    # --- PQ side: trained codebook, corpus codes, query ADC tables
    cen = pq_train_codebook(emb, m=m, n_centroids=n_centroids, iters=iters, q=q)
    subq = _pq_subq(emb, m, sublen, q)
    codes = _pq_assign(subq, cen, sublen).select(
        "vec_id", "sub", F.col("cid").alias("code")
    )
    qsub = _pq_subq(emb.filter(F.col("vec_id") < n_queries), m, sublen, q)
    adc = qsub.join(F.broadcast(cen), "sub").select(
        F.col("vec_id").alias("query_id"),
        "sub",
        F.col("cid").alias("code"),
        _pq_int_sqdist("subq", "cen", sublen).alias("pdist"),
    )
    # --- candidates: only vectors in a probed list of that query
    cand = F.broadcast(probes).join(assigned, "list_id").select(
        "query_id", "vec_id"
    )
    coarse = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(adc), ["query_id", "sub", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdist").alias("adc"), F.count(F.lit(1)).alias("__m"))
        .filter(F.col("__m") == m)  # guard: all m subspaces joined
        .drop("__m")
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    short = (
        coarse.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    ed = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    exact = (
        short.join(
            ed.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe")),
            "query_id",
        )
        .join(
            ed.select(
                F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne")
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", _pq_sqdist("qe", "ne").alias("dist"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.round("dist", 4).asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("dist", 4).alias("pqdist")
        )
    )


def _bloom_bitmap(bench_sh: DataFrame, n_hashes: int, n_bits: int) -> DataFrame:
    """The bloom bitmap builder shared by bloom_decontaminate and
    bloom_eval (the lsh_eval convention: the eval scores the SHIPPED
    bit-construction path, never a reimplementation): distinct set
    (row, col) positions from the _cms_cells hash family."""
    return (
        bench_sh.select(F.col("shingle").alias("g"))
        .select(F.explode(_cms_cells(n_hashes, n_bits)).alias("c"))
        .select(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .distinct()
    )


def bloom_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    n_hashes: int = 3,
    n_bits: int = 4096,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the fixed-size variant of
    `decontaminate`: the bench side compresses to a partitioned bloom
    bitmap (n_hashes rows x n_bits cols, reusing the _cms_cells hash
    definition) whose broadcast is <= n_hashes * n_bits SET-POSITION rows
    no matter how many shingles the eval suite has; `decontaminate`
    broadcasts the bench shingle set itself, which grows with the suite.

    A corpus shingle is a bloom POSITIVE when all n_hashes of its
    positions are set.  Bloom positives include false positives by
    design, so the result carries both counts per document —
    (doc_id, bloom_hits, exact_hits), bloom_hits >= exact_hits — making
    the FP rate observable instead of silent (the no-silent-caps
    convention).  At the entry defaults the fixture measures a nonzero
    FP margin, which is the honest behavior of a 12-kbit filter; size
    n_bits to the bench shingle count for a target FP rate
    (~(fill_ratio)^n_hashes per probe).

    Scale: bench positions and the exact shingle set both broadcast; the
    corpus-side exchange is one (doc_id, g) aggregation bounded by the
    actual hit volume — no corpus-wide shuffle of the shingle stream."""
    bench_sh = shingles(bench, n=n).select("shingle")
    bloom = _bloom_bitmap(bench_sh, n_hashes, n_bits)
    exact = bench_sh.distinct().withColumnRenamed("shingle", "g")
    corpus = _gram_stream(docs, n)
    # r6 (guide §2.4): the bitmap is ≤ n_hashes × n_bits SET positions —
    # collect it once (the SAME _bloom_bitmap build bloom_eval scores)
    # into n_hashes literal 64-bit-word masks, and the per-gram
    # membership test becomes O(1) codegen'd bit arithmetic over the
    # UNCHANGED _cms_cells hash definition, replacing the 3×-exploded
    # probe stream + broadcast join + countDistinct==n_hashes aggregate.
    # Identical positives set (all n_hashes positions set ⟺ every
    # per-row bit test passes); warm 2.3-2.9 → see OPTIMIZATION_r06.md.
    n_words = (n_bits + 63) // 64
    words = [[0] * n_words for _ in range(n_hashes)]
    for r in bloom.collect():
        words[r["row"]][r["col"] >> 6] |= 1 << (r["col"] & 63)

    def _sgn(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    pos = corpus.select("doc_id", "g")
    conds = []
    for i in range(n_hashes):
        pos = pos.withColumn(
            f"__bm{i}",
            F.array(*[F.lit(_sgn(w)).cast("long") for w in words[i]]),
        ).withColumn(
            f"__c{i}",
            F.expr(
                f"cast(conv(substring(md5('{i}:' || g), 1, 8), 16, 10)"
                f" % {n_bits} as int)"
            ),
        )
        conds.append(
            F.expr(
                f"(shiftright(element_at(__bm{i},"
                f" cast(__c{i} div 64 + 1 as int)),"
                f" pmod(__c{i}, 64)) & 1) = 1"
            )
        )
    allset = conds[0]
    for c in conds[1:]:
        allset = allset & c
    positives = pos.filter(allset).select("doc_id", "g")
    flagged = positives.join(
        F.broadcast(exact.withColumn("__exact", F.lit(1))), "g", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("bloom_hits"),
            F.countDistinct(F.when(F.col("__exact") == 1, F.col("g"))).alias(
                "exact_hits"
            ),
        )
        .filter(F.col("bloom_hits") >= 1)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (r4): the original byte-pair-encoding recipe
# (Sennrich et al. 2016) in its distributed form.  The ONLY corpus-sized
# stage is the word count (one map-side-combinable groupBy); everything
# after — pair statistics, argmax, merge application — runs on the
# VOCABULARY (distinct words x frequency), which is what makes BPE
# trainable at 100 TB: the corpus compresses to word counts once, and
# applying the learned merges to the corpus is a broadcast vocab join.
#
# Exactness: symbol sequences are chr(31)-joined strings folded by an
# IDENTICAL greedy-leftmost string fold in Spark and DuckDB (list_reduce
# with '' prepended); pair counts and ranks are integers; the argmax pair
# tie-breaks (count DESC, left ASC, right ASC).  Symbols never contain
# chr(31) (words come from whitespace tokenization).
# ---------------------------------------------------------------------------

def _bpe_merge_fold(syms_col: str, ma: str, mb: str) -> str:
    """Spark SQL fold applying ONE merge (ma, mb) greedily left-to-right
    over a symbol array, producing the chr(31)-joined merged string.
    NULL ma/mb (no pair left to merge) degrades to a plain re-join."""
    sep = "char(31)"
    return (
        f"aggregate({syms_col}, '', (acc, v) -> CASE"
        f" WHEN {mb} IS NOT NULL AND v = {mb}"
        f"  AND (acc = {ma} OR endswith(acc, concat({sep}, {ma})))"
        f" THEN CASE WHEN acc = {ma} THEN concat({ma}, {mb})"
        f"      ELSE concat(substring(acc, 1,"
        f"           length(acc) - length({ma}) - 1),"
        f"           {sep}, {ma}, {mb}) END"
        f" ELSE CASE WHEN acc = '' THEN v"
        f"      ELSE concat(acc, {sep}, v) END END)"
    )


def _bpe_adjacent_pairs(words: DataFrame) -> DataFrame:
    """(a, b, wc): adjacent symbol pairs of each vocab word, weighted by
    word count — the arrays_zip shifted-slice form (no lambdas)."""
    syms = F.split(F.col("s"), "\x1f")
    z = F.arrays_zip(
        syms, F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(1)))
    )
    return (
        words.filter(F.size(syms) >= 2)
        .select("wc", F.explode(z).alias("p"))
        .filter(F.col("p").getItem("1").isNotNull())
        .select(
            F.col("p").getItem("0").alias("a"),
            F.col("p").getItem("1").alias("b"),
            "wc",
        )
    )


BPE_TRAIN_MAX_VOCAB = 1 << 17
"""r6: vocab-row bound for the collected single-node BPE trainer — the
MAX_BPE_MERGES note already prescribes exactly this decomposition ('train
large vocabularies single-node on the word-count table, apply distributed');
this makes it the default whenever the word-count table provably fits."""


def _bpe_train(docs: DataFrame, n_merges: int):
    """Returns (merge_steps, words): merge_steps is a list of 1-row DFs
    (step, left, right, pair_count); words is the final vocab
    (g, wc, s) with s the merged chr(31)-joined symbol string.

    r6 fast path (guide §1.2 step 1): each merge step is inherently
    driver-sequenced (~3 checkpointed vocab jobs per step — measured
    0.77 s/merge), while the training STATE is only the word-count
    table.  When that table provably fits BPE_TRAIN_MAX_VOCAB rows it
    is collected once and the merge loop runs in Python with the
    identical semantics: pair counts weighted by wc, argmax ties on
    (left ASC, right ASC) (Python tuple min on (-pc, a, b) ≡ Spark's
    orderBy — UTF-8 binary string order equals codepoint order), and
    the same greedy left-to-right fold (out[-1]==left and v==right ⇒
    merge) the SQL aggregate fold applies.  Exhausted-pair steps yield
    EMPTY step rows and leave words untouched, exactly like the Spark
    limit(1)-of-empty + NULL-merge fold.  Bit-parity pinned by
    tests/test_r6_vectorized.py::test_bpe_train_python_matches_spark_loop.
    Above the bound the distributed loop runs unchanged."""
    vocab = (
        _gram_stream(docs, 1)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    spark = docs.sparkSession
    step_schema = "step int, left string, right string, pair_count bigint"
    if _fits_within(vocab, BPE_TRAIN_MAX_VOCAB):
        wrows = [[r["g"], r["wc"], list(r["g"])] for r in vocab.collect()]
        steps = []
        for t in range(1, n_merges + 1):
            pc: dict = {}
            for _g, wc, syms in wrows:
                for i in range(len(syms) - 1):
                    k = (syms[i], syms[i + 1])
                    pc[k] = pc.get(k, 0) + wc
            if not pc:
                steps.append(spark.createDataFrame([], step_schema))
                continue
            negc, a, b = min((-c, a, b) for (a, b), c in pc.items())
            steps.append(
                spark.createDataFrame([(t, a, b, -negc)], step_schema)
            )
            for w in wrows:
                out: list = []
                for v in w[2]:
                    if out and out[-1] == a and v == b:
                        out[-1] = a + b
                    else:
                        out.append(v)
                w[2] = out
        words = spark.createDataFrame(
            [(g, wc, "\x1f".join(syms)) for g, wc, syms in wrows],
            "g string, wc bigint, s string",
        )
        return steps, words
    words = vocab.select(
        "g",
        "wc",
        F.expr(
            "array_join(transform(sequence(1, length(g)),"
            " i -> substring(g, i, 1)), char(31))"
        ).alias("s"),
    ).localCheckpoint()
    steps = []
    for t in range(1, n_merges + 1):
        pc = _bpe_adjacent_pairs(words).groupBy("a", "b").agg(
            F.sum("wc").alias("pc")
        )
        top = (
            pc.orderBy(F.col("pc").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .select(
                F.lit(t).alias("step"),
                F.col("a").alias("left"),
                F.col("b").alias("right"),
                F.col("pc").alias("pair_count"),
            )
            .localCheckpoint()
        )
        steps.append(top)
        topd = top.select(
            F.lit(1).alias("__k"),
            F.col("left").alias("__ma"),
            F.col("right").alias("__mb"),
        )
        words = (
            words.withColumn("__k", F.lit(1))
            .join(F.broadcast(topd), "__k", "left")
            .select(
                "g",
                "wc",
                F.expr(
                    _bpe_merge_fold("split(s, char(31))", "__ma", "__mb")
                ).alias("s"),
            )
        ).localCheckpoint()
    return steps, words


MAX_BPE_MERGES = 1024
"""bpe_merges refusal bound (VERDICT r4 #4, the pagerank-bound pattern):
each merge step is DRIVER-SEQUENCED — two localCheckpointed vocab-sized
jobs per step, inherently serial because step t's argmax depends on step
t-1's merged vocabulary (batching 'non-overlapping' merges changes which
NEW pairs exist at the next argmax, i.e. changes the learned table, so it
is not an equivalence-preserving speedup and would break the sequential
oracle).  Measured (sf0.01 docs, local[8], this host): n_merges=64 in
49 s ≈ 0.77 s/merge after the one-off corpus word count — so a real 32k-
merge vocab is ~7 h of driver latency, a latency wall, not a data-volume
wall (per-step state stays vocabulary-sized at any corpus scale).  Above
this bound use a dedicated single-node trainer on the word-count table
(it fits: vocab × counts), then apply the merge table distributed via
bpe_token_counts' broadcast-vocab join."""


def bpe_merges(
    docs: DataFrame, n_merges: int = 6, *, force: bool = False
) -> DataFrame:
    """The learned BPE merge table: (step, left, right, pair_count) —
    n_merges rows, each the frequency-argmax adjacent symbol pair at that
    step (ties on (left, right)).  Training state is vocabulary-sized;
    see the module comment for the 100 TB decomposition and
    MAX_BPE_MERGES for the driver-sequencing latency bound."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if n_merges > MAX_BPE_MERGES and not force:
        raise ValueError(
            f"bpe_merges refused: n_merges={n_merges} > "
            f"MAX_BPE_MERGES={MAX_BPE_MERGES}. Each merge is a driver-"
            "sequenced job pair (~0.77 s/merge measured) — train large "
            "vocabularies single-node on the word-count table and apply "
            "them distributed, or pass force=True to override."
        )
    steps, _ = _bpe_train(docs, n_merges)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out


def bpe_token_counts(
    docs: DataFrame, n_merges: int = 6, *, force: bool = False
) -> DataFrame:
    """(doc_id, n_tokens_bpe): per-document token count under the trained
    BPE vocabulary — corpus word stream joined against the broadcast
    tokenized vocab (the standard apply-BPE-by-lookup), summed per doc.
    The corpus is touched exactly twice (word count + this join), both
    map-side-combinable.  Shares bpe_merges' MAX_BPE_MERGES bound."""
    if n_merges > MAX_BPE_MERGES and not force:
        raise ValueError(
            f"bpe_token_counts refused: n_merges={n_merges} > "
            f"MAX_BPE_MERGES={MAX_BPE_MERGES} (see bpe_merges), or pass "
            "force=True to override."
        )
    _, words = _bpe_train(docs, n_merges)
    return (
        _gram_stream(docs, 1)
        .join(F.broadcast(_bpe_per_word(words)), "g")
        .groupBy("doc_id")
        .agg(F.sum("n_sub").alias("n_tokens_bpe"))
    )


def _bpe_per_word(words: DataFrame) -> DataFrame:
    """(g, n_sub): per-word subtoken count under the trained vocab — the
    chr(31)-separator count, ONE definition shared by bpe_token_counts
    and bpe_fertility (the parameterize-never-copy rule; a separator
    change must not drift between the two consumers)."""
    return words.select(
        "g",
        F.expr(
            "cast(length(s) - length(replace(s, char(31), '')) + 1 as bigint)"
        ).alias("n_sub"),
    )


def phrase_search(
    docs: DataFrame, phrase: list[str], text_col: str = "text"
) -> DataFrame:
    """Positional phrase query: (doc_id, n_hits, first_pos) for every doc
    containing the exact token sequence `phrase` — the positional-index
    retrieval op the doc-level inverted_index/term_search pair cannot
    answer (reference analogue: a Lucene PhraseQuery over the tokenized
    text the extractor feeds downstream).

    Anchor trick: an occurrence of phrase[i] at position p is evidence for
    a phrase match starting at anchor = p - i; a full match at `anchor`
    needs all k slots present, and since pos = anchor + i is unique per
    slot, count(*) == k per (doc_id, anchor) is exact — repeated terms in
    the phrase included (each (pos, i) pair is emitted separately).

    Scale: the isin() filter prunes the exploded token stream to
    phrase-term occurrences BEFORE any shuffle (pushed into the scan for
    the common case), so the exchange carries only matches × k rows; the
    two groupBys are map-side combinable; no join anywhere."""
    if not phrase:
        raise ValueError("phrase_search needs at least one term")
    k = len(phrase)
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(text_col, " ")).alias("pos", "tok"),
    ).filter(F.col("tok").isin(sorted(set(phrase))))
    # slot table as a row-level array: slots[i] = i iff tok == phrase[i]
    # (k elements, row-level — not the per-token interpreted-lambda trap)
    slots = F.array(
        *[
            F.when(F.col("tok") == F.lit(t), F.lit(i))
            for i, t in enumerate(phrase)
        ]
    )
    m = (
        tok.select("doc_id", "pos", F.explode(slots).alias("i"))
        .filter(F.col("i").isNotNull())
        .select("doc_id", (F.col("pos") - F.col("i")).alias("anchor"))
        .filter(F.col("anchor") >= 0)
    )
    hits = (
        m.groupBy("doc_id", "anchor")
        .agg(F.count(F.lit(1)).alias("n_slots"))
        .filter(F.col("n_slots") == k)
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("anchor").cast("long").alias("first_pos"),
    )


def bfs_levels(
    edges: DataFrame, seeds: DataFrame, max_depth: int = 4
) -> DataFrame:
    """Crawl-depth BFS: (node, dist) = shortest hop distance from any seed,
    bounded at max_depth — the frontier-discovery analysis a crawler runs
    over its link graph to decide how deep a seed list actually reaches
    (nodes beyond max_depth are absent, not null).

    Frontier form: round r expands ONLY nodes first reached at r-1 (their
    shortest distance is final — BFS invariant), unions the discoveries
    into the distance table and re-mins.  All-integer, so cross-engine
    exact; the oracle unrolls rounds as plain CTE levels (the pagerank
    convention).

    Scale: each round is one join (frontier × edges, AQE picks the
    strategy as the frontier grows/shrinks) + one map-side-combinable
    min-aggregate.  localCheckpoint per round cuts the lineage exactly
    like pagerank's — without it round r re-executes every prior join
    (measured 4× on the pagerank shape).  max_depth bounds the job chain;
    a web-scale frontier crawl runs this with max_depth ~ 10-12."""
    dist = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint()
    )
    # materialize edges ONCE — the pagerank lesson: each round's checkpoint
    # job would otherwise re-execute the lazy edges subtree (for an
    # extract_links-fed graph, the full DOM parse) max_depth times
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint()
    ep = _collect_within(edges, GRAPH_DRIVER_MAX_EDGES)
    sp_ = None if ep is None else _collect_within(
        dist.select("node"), GRAPH_DRIVER_MAX_EDGES
    )
    if sp_ is not None:
        # r6 driver fast path (the _seed_bfs pattern, min-over-seeds
        # collapse): ONE distance array seeded with every seed at 0 —
        # first reach is shortest, identical (node, dist) rows.
        nodes, si, di, sc = _factorize(
            ep["src"].to_numpy(dtype=np.int64),
            ep["dst"].to_numpy(dtype=np.int64),
            sp_["node"].to_numpy(dtype=np.int64),
        )
        d = np.full(nodes.size, -1, dtype=np.int64)
        d[sc] = 0
        for r in range(1, max_depth + 1):
            sel = d[si] == r - 1
            if not sel.any():
                break
            reached = np.unique(di[sel])
            new = reached[d[reached] == -1]
            d[new] = r
        m = d >= 0
        pdf = pd.DataFrame({"node": nodes[m], "dist": d[m]})
        return edges.sparkSession.createDataFrame(
            pdf, schema="node bigint, dist bigint"
        )
    for r in range(1, max_depth + 1):
        frontier = dist.filter(F.col("dist") == r - 1).select(
            F.col("node").alias("src")
        )
        nxt = edges.join(frontier, "src").select(
            F.col("dst").alias("node"),
            F.lit(r).cast("long").alias("dist"),
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def bowtie_components(
    edges: DataFrame, pivot: int, max_depth: int = 12
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., WWW
    2000 — THE structural census of the web graph) around a pivot
    assumed to sit in the giant SCC: a forward BFS from the pivot
    reaches SCC ∪ OUT, a backward BFS (edges reversed) reaches
    SCC ∪ IN, so each node classifies as
      core  — reached both ways (the pivot's SCC),
      out   — forward only (reachable FROM the core, never back),
      in    — backward only (reaches the core, never reached),
      other — neither (tendrils, tubes, disconnected islands).
    Output: (node, component) for every node incident to an edge.

    max_depth must cover the graph's effective diameter from the
    pivot: nodes beyond it degrade conservatively (a too-shallow fwd
    BFS moves unreached out-nodes to 'other', never misclassifies as
    core) — same bound semantics as bfs_levels.

    Scale: two bounded frontier BFS chains (each round one join + one
    map-side-combinable min, localCheckpoint per round — the pagerank
    lesson lives in bfs_levels) + one distinct over edge endpoints +
    two left joins keyed on the uniform node id.  At web scale run it
    from a handful of high-PageRank pivots and vote: one pivot
    misplaced outside the giant SCC relabels core as in/out, which the
    vote exposes.  All-integer — cross-engine exact."""
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    spark = edges.sparkSession
    seeds = spark.range(1).select(
        F.lit(int(pivot)).cast("long").alias("node")
    )
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    fwd = bfs_levels(edges, seeds, max_depth).select(
        "node", F.lit(1).alias("f")
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    bwd = bfs_levels(rev, seeds, max_depth).select(
        "node", F.lit(1).alias("b")
    )
    return (
        nodes.join(fwd, "node", "left")
        .join(bwd, "node", "left")
        .select(
            "node",
            F.when(
                F.col("f").isNotNull() & F.col("b").isNotNull(),
                F.lit("core"),
            )
            .when(F.col("f").isNotNull(), F.lit("out"))
            .when(F.col("b").isNotNull(), F.lit("in"))
            .otherwise(F.lit("other"))
            .alias("component"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str = "n_chars",
    w_max: int = 300,
    salt: str = "ws0",
    project: bool = True,
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: keep each doc with
    probability min(w, w_max) / w_max, decided by a salted md5 hash of the
    doc_id — the quality-/length-weighted subsampling step of a training
    mixture (upweight long docs, downweight stubs) made reproducible and
    cross-engine exact.

    Integer decision: u = first-8-hex(md5(salt:doc_id)) is uniform on
    [0, 2^32); keep iff u * w_max < min(w, w_max) * 2^32 — one cross-
    multiplication in LongType (≤ 2^32 · w_max ≈ 1.3e15 at w_max=300),
    no float anywhere.  Changing `salt` draws an independent sample;
    epoch-keyed salts give per-epoch resamples (the epoch_shuffle
    convention).

    Scale: stateless row-local projection + filter — no shuffle at all;
    the filter sits directly on the scan.

    project (review finding): True returns the narrow (doc_id, w) audit
    shape the driver oracle hashes; False keeps EVERY input column (plus
    w) so a pipeline can thin a firehose and still feed the payload
    (text/html/url) to the next stage without joining back."""
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = F.least(F.col(weight_col).cast("long"), F.lit(w_max))
    kept = docs.withColumn("w", w).filter(
        hv * w_max < F.col("w") * F.lit(4294967296)
    )
    return kept.select("doc_id", "w") if project else kept


def embedding_lsh_eval(
    emb: DataFrame,
    threshold: float = 0.35,
    n_bands: int = 6,
    band_bits: int = 3,
    max_bucket_size: int = 60,
    *,
    force: bool = False,
) -> DataFrame:
    """lsh_eval's twin for the EMBEDDING family: ONE row (n_true, n_cand,
    n_hit, recall_milli, precision_milli) scoring the shipped banded
    hyperplane-LSH candidate producer (cap active) against the exact
    cosine-threshold truth set — the in-engine calibration for the one
    near-dup family whose recall is genuinely probabilistic (MinHash
    banding is pigeonhole-exact at its design distance; sign-bit LSH is
    not: P(candidate) = 1-(1-(1-θ/π)^band_bits)^n_bands).

    Honesty notes: `cand` is _embedding_candidate_pairs — the EXACT
    candidate stage embedding_neardup_lsh consumes, cap included, not a
    reimplementation.  `truth` uses the production numpy rescore (counts
    only; the fixture differential pins numpy == fold == DuckDB
    list_cosine_similarity at the 4dp inclusion boundary).  Precision
    here is CANDIDATE precision (pre-rescore); the producer's output
    precision is 1.0 by construction since it re-scores exactly.

    Guarded like the other exact baselines: refuses above
    MAX_EXACT_PAIR_ROWS corpus rows unless force=True — the truth side is
    O(n²) and exists to calibrate a sample, never to run at corpus
    scale."""
    if not force:
        _refuse_above(
            emb,
            MAX_EXACT_PAIR_ROWS,
            "embedding_lsh_eval",
            "The truth side is the exact O(n²) cosine join — calibrate "
            "on a sample at scale,",
        )
    # r6: cand feeds exactly ONE consumer (the fused outer-join card) —
    # no checkpoint needed
    cand = _embedding_candidate_pairs(emb, n_bands, band_bits, max_bucket_size)
    pe = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # r6 (guide §8): the r5 truth crossJoined n²/2 PAIR ROWS each
    # carrying BOTH full float64 vectors (2M × 128 doubles ≈ 2 GB
    # through two exchanges and the Arrow boundary at sf0.1 — 8-12 s
    # warm).  The vectors are guard-bounded (≤ MAX_EXACT_PAIR_ROWS ×
    # ndim f64 ≈ 10 MB), so they now ride as ONE broadcast matrix and
    # each task emits its ids' (id_a, id_b, cos) rows from contiguous
    # block einsum — the SAME np.einsum('ij,ij->i') reduction
    # _pair_cos_numpy runs per pair (row-wise reductions are
    # independent of batch composition → bit-identical cosines;
    # differential-pinned in tests/test_r6_vectorized.py).  The
    # round(cos,4) >= threshold INCLUSION filter stays in Spark SQL,
    # unchanged.  Warm 8.3-11.9 s → ~1 s at sf0.1.
    rows = sorted(pe.collect(), key=lambda r: r["vec_id"])
    idv = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    matv = np.asarray([r["e"] for r in rows], dtype=np.float64)
    bc = emb.sparkSession.sparkContext.broadcast((idv, matv))

    def _pairs_cos(batches):
        idv_b, mat_b = bc.value
        n = len(idv_b)
        # per-row norms once per task: einsum row reductions are
        # independent per row, so these equal the per-pair recompute
        nrm = np.sqrt(np.einsum("ij,ij->i", mat_b, mat_b))
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for a in pdf["vec_id"].to_numpy():
                i = int(np.searchsorted(idv_b, a))
                if i >= n or idv_b[i] != a or i + 1 >= n:
                    continue
                blk = np.ascontiguousarray(mat_b[i + 1 :])
                arow = np.repeat(mat_b[i][None, :], len(blk), axis=0)
                dots = np.einsum("ij,ij->i", arow, blk)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / (nrm[i] * nrm[i + 1 :])
                out_a.append(np.full(len(blk), a, dtype=np.int64))
                out_b.append(idv_b[i + 1 :])
                out_c.append(cos)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    sc = emb.sparkSession.sparkContext
    nparts = max(1, min(len(idv), sc.defaultParallelism))
    truth = (
        pe.select("vec_id")
        .repartition(nparts)
        .mapInPandas(_pairs_cos, "id_a long, id_b long, cos double")
        .filter(F.round("cos", 4) >= threshold)
        .select("id_a", "id_b")
    )
    return _eval_counts_card(truth, cand, ["id_a", "id_b"])


def simhash_eval(
    docs: DataFrame,
    bits: int = 48,
    n_bands: int = 4,
    max_bucket_size: int = 100,
) -> DataFrame:
    """Calibration row for the SIMHASH family: the capped producer vs the
    uncapped one — completing the per-family eval trio (lsh_eval for
    MinHash, embedding_lsh_eval for hyperplane LSH).  SimHash banding is
    pigeonhole-EXACT at hamming <= n_bands-1, so unlike the embedding
    family the only recall loss is the skew cap dropping dense buckets;
    this row turns that loss into a driver-checkable number instead of
    the bucket-level simhash_lsh_overflow audit alone (a dropped bucket's
    PAIR impact is quadratic in its size — bucket counts understate it).

    truth = the uncapped producer (provably complete at the design
    distance); cand = the shipped capped config.  cand ⊆ truth, so
    precision_milli is structurally 1000 — it is still measured (the
    join), so a banding bug that emitted a bogus pair WOULD surface.

    Scale: one corpus-wide fingerprint aggregate shared via
    localCheckpoint (docs × 1 longs), then two band self-joins — the
    uncapped truth join is bounded by the corpus's real bucket sizes, so
    at 100 TB run this on a sample the way the exact-join evals do."""
    sims = simhash(docs, bits).localCheckpoint()
    # r6: truth/cand each feed exactly ONE consumer now (the fused
    # outer-join card), and both build from the checkpointed sims —
    # their own checkpoints were two redundant materialization jobs.
    # (Measured anti-lesson: thread-overlapping the two chains as
    # separate checkpoint jobs read 2.45-2.9 s vs 2.2-2.7 for this
    # single-DAG form — the card's outer join already runs both
    # self-join subtrees as concurrent sibling stages; eager
    # checkpoints only added materialization.  Do not retry.)
    truth = simhash_neardup_pairs(docs, bits, n_bands, sims=sims).select(
        "doc_id_a", "doc_id_b"
    )
    cand = simhash_neardup_pairs(
        docs, bits, n_bands, max_bucket_size=max_bucket_size, sims=sims
    ).select("doc_id_a", "doc_id_b")
    return _eval_counts_card(truth, cand, ["doc_id_a", "doc_id_b"])


def recrawl_priority(snaps: DataFrame) -> DataFrame:
    """Change-rate recrawl scheduling over a fetch history (url, ts,
    doc_id, digest): per url, how many of the consecutive re-fetches saw
    the content digest CHANGE — the signal a crawler's scheduler uses to
    give volatile pages a shorter revisit interval and static pages a
    longer one (the WARC revisit-record economy, turned into priorities).

    Ordering: fetches are sequenced by (ts, doc_id) — a deterministic
    total order even on the tie-heavy fixture (same-ts fetch pairs), so
    both engines count the SAME transitions.  change_milli =
    n_changes * 1000 div (n_fetches - 1) (single-fetch urls report 0 —
    no transition evidence, lowest priority).

    Scale: one window per url partition (the exchange is on url — the
    natural key a fetch log is already bucketed by) + one
    map-side-combinable groupBy.  No global sort: priority is a value,
    consumers top-k it with TakeOrderedAndProject."""
    w = Window.partitionBy("url").orderBy(
        F.col("ts").asc(), F.col("doc_id").asc()
    )
    seq = snaps.select(
        "url",
        "ts",
        "doc_id",
        "digest",
        F.lag("digest").over(w).alias("__prev"),
    )
    changed = F.when(
        F.col("__prev").isNotNull() & (F.col("digest") != F.col("__prev")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        seq.select("url", changed.alias("__chg"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum("__chg").cast("long").alias("n_changes"),
        )
        .select(
            "url",
            "n_fetches",
            "n_changes",
            F.expr(
                "n_changes * 1000 div greatest(n_fetches - 1, 1)"
            ).alias("change_milli"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank: pagerank() with the teleport mass pinned to
    a seed set instead of spread uniformly — the topic-/host-sensitive
    ranking a crawler uses to score frontier URLs by proximity to trusted
    seeds (Haveliwala WWW'02), and the natural ranking companion to
    bfs_levels' hop counts (PPR weights by ALL paths, not just the
    shortest).

    Integer convention (cross-engine exact, the pagerank family rules):
    p0 = 1e6 per seed node, 0 elsewhere; each round
        p(v) = (v ∈ S ? (100-d)·10^4 : 0) + d · Σ_{u→v} (p(u) div
        outdeg(u)) div 100
    — same teleport magnitude per seed as pagerank's per-node term, so
    total mass stays ≈ |S|·1e6 and the overflow bound is pagerank's.
    Sink mass is dropped (the redistribute_dangling=False semantics);
    seeds not present in the graph contribute nothing (documented — the
    teleport joins against nodes = src ∪ dst).

    Scale: identical per-round shape to pagerank (one join on src + one
    map-side-combinable groupBy on dst); the seed teleport column is
    computed ONCE as a left-semi flag on the node table and checkpointed
    with it."""
    if not 1 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [1, 100]")
    edges = edges.localCheckpoint()
    # materialize the seed set ONCE (the bfs_levels seed table): the
    # probe, the collect and the distributed base join all read it
    sd = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .localCheckpoint()
    )
    # a seed set over the bound skips the driver replay entirely
    # (seed_set=None there would mean plain pagerank)
    sp_ = _collect_within(sd, GRAPH_DRIVER_MAX_EDGES)
    if sp_ is not None:
        fast = _pagerank_driver(
            edges, iters, damping_pct, False, seed_set=sp_["node"].to_numpy()
        )
        if fast is not None:
            return fast
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint()
    teleport = (100 - damping_pct) * 10_000
    # carry the seed FLAG, not the teleport value: deriving the flag back
    # from tele would divide by zero at damping_pct=100 (review finding —
    # teleport is 0 there, and pagerank() itself supports 100)
    base = (
        nodes.join(sd.withColumn("__s", F.lit(1)), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("__s"), F.lit(0)).cast("long").alias("__s"),
        )
        .localCheckpoint()
    )
    pr = base.select(
        "node", (F.col("__s") * 1_000_000).cast("long").alias("p")
    )
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges["src"] == pr["node"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("p div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        pr = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.col("__s") * teleport
                    + F.expr(
                        f"(coalesce(in_mass, 0L) * {damping_pct}) div 100"
                    )
                ).alias("p"),
            )
            .localCheckpoint()
        )
    return pr.select("node", F.col("p").alias("rank_micro"))


def inverted_index_merge(
    idx_a: DataFrame,
    idx_b: DataFrame,
    max_postings: int | None = None,
) -> DataFrame:
    """Merge two inverted-index snapshots (term, df, postings[]) into one —
    the incremental-maintenance primitive: index new crawl segments
    separately (cheap, parallel, no touch of the existing index), then
    merge posting lists segment-wise exactly like a Lucene segment merge.

    Semantics: df adds (each side reports its own true document
    frequency, so the merged df is the union count PROVIDED the segments
    are doc-disjoint — the normal segment invariant; overlapping segments
    would double-count and should be dedup'd upstream).  Postings concat
    + sort ascending; max_postings truncates the ARRAY while df keeps the
    true count (inverted_index's no-silent-caps contract).

    Scale: one union + one map-side-combinable groupBy(term); the
    flatten/sort is per-term row-local.  Posting-list skew is the same
    data property inverted_index documents — cap with max_postings or
    drop stopword terms (max_df) at build time."""
    u = idx_a.select("term", "df", "postings").unionByName(
        idx_b.select("term", "df", "postings")
    )
    merged = u.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"),
    )
    if max_postings is not None:
        merged = merged.withColumn(
            "postings", F.slice(F.col("postings"), 1, max_postings)
        )
    return merged


def bpe_fertility(
    docs: DataFrame, n_merges: int = 6, *, force: bool = False
) -> DataFrame:
    """Tokenizer fertility data card: per language, BPE subtokens per
    whitespace word (milli ratio) under the trained merge table — THE
    number a multilingual-pretraining team checks before fixing a
    tokenizer (high-fertility languages pay more sequence length per
    word and get silently under-trained at a fixed token budget).

    One corpus pass: the unigram stream joins the broadcast tokenized
    vocab (bpe_token_counts' shape), and BOTH sums (subtokens, words)
    come out of the same per-doc aggregate — then one tiny per-lang
    roll-up.  fertility_milli = Σsubtokens * 1000 div Σwords, integer.
    Shares bpe_merges' MAX_BPE_MERGES bound."""
    if n_merges > MAX_BPE_MERGES and not force:
        raise ValueError(
            f"bpe_fertility refused: n_merges={n_merges} > "
            f"MAX_BPE_MERGES={MAX_BPE_MERGES} (see bpe_merges), or pass "
            "force=True to override."
        )
    _, words = _bpe_train(docs, n_merges)
    per_doc = (
        _gram_stream(docs, 1)
        .join(F.broadcast(_bpe_per_word(words)), "g")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sub").alias("nb"),
            F.count(F.lit(1)).alias("nw"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("nb").cast("long").alias("n_tokens_bpe"),
            F.sum("nw").cast("long").alias("n_words"),
        )
        .select(
            "lang",
            "n_tokens_bpe",
            "n_words",
            F.expr("n_tokens_bpe * 1000 div n_words").alias(
                "fertility_milli"
            ),
        )
    )


def positional_index(
    docs: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Positional inverted index: term → (df, postings of (doc, pos...))
    — the index structure behind phrase_search, materialized the way a
    posting-file writer would persist it (inverted_index stores doc ids
    only; phrase and proximity queries need positions).  One row per
    (term, doc_id) with the ascending position list; df stamped per term
    is the TRUE document frequency (the no-silent-caps contract), so
    min_df/max_df pruning is visible, never silent.

    Scale: one posexplode + one map-side-combinable groupBy(term, doc)
    for the position lists, then a term-window df stamp — the exchange
    is on term exactly like inverted_index, and position lists are
    per-(term, doc) (bounded by doc length), so term skew costs rows,
    not row width.  Prune stopwords with max_df before shipping to a
    posting store."""
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    )
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    w = Window.partitionBy("term")
    out = per_doc.withColumn(
        "df", F.count(F.lit(1)).over(w).cast("long")
    )
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    if max_df is not None:
        out = out.filter(F.col("df") <= max_df)
    return out.select("term", "doc_id", "df", "positions")


def proximity_search(
    docs: DataFrame, term_a: str, term_b: str, window: int = 3
) -> DataFrame:
    """Proximity query: docs where term_a and term_b occur within
    `window` token positions of each other (unordered — the NEAR/k
    operator next to phrase_search's exact-adjacency match).  Returns
    (doc_id, n_pairs, min_gap): every qualifying position pair counted,
    plus the tightest gap for ranking.

    Scale: both posting streams are pruned to the two query terms BEFORE
    any shuffle (the term_search rule), so the per-doc join is
    occ_a × occ_b — bounded by term frequency within one document, never
    corpus-sized.  One equi-join on doc_id + one map-side-combinable
    groupBy."""
    if term_a == term_b:
        raise ValueError(
            "proximity_search needs two distinct terms — for repeats of "
            "one term use phrase_search or positional_index directly"
        )
    if window < 1:
        raise ValueError("window must be >= 1")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    pa = tok.filter(F.col("tok") == term_a).select(
        "doc_id", F.col("pos").alias("pa")
    )
    pb = tok.filter(F.col("tok") == term_b).select(
        "doc_id", F.col("pos").alias("pb")
    )
    gap = F.abs(F.col("pa") - F.col("pb"))
    return (
        pa.join(pb, "doc_id")
        .filter(gap <= window)
        .select("doc_id", gap.alias("gap"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("gap").cast("long").alias("min_gap"),
        )
    )


def search_snippets(
    docs: DataFrame, term: str, window: int = 3
) -> DataFrame:
    """Search-result snippets: for every doc containing `term`, the
    ±window-token context around the FIRST occurrence, joined back into
    a display string — the last stage of the retrieval chain (index →
    search → rank → display), emitted engine-side so a result page never
    ships whole documents.

    (doc_id, first_pos, snippet): snippet = tokens
    [max(0, first_pos - window), first_pos + window], space-joined.

    Scale: the first-hit table is the pruned-explode + groupBy(min)
    shape (term_search's bound: the exchange carries only hit rows);
    the join back to docs is on doc_id, and the slice is row-local over
    the doc's own token array — no corpus-wide window, no second
    explode."""
    if not term:
        raise ValueError("search_snippets needs a non-empty term")
    hits = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "tok"),
        )
        .filter(F.col("tok") == term)
        .groupBy("doc_id")
        .agg(F.min("pos").cast("long").alias("first_pos"))
    )
    # slice() is 1-based and clamps the tail; clamp the head ourselves
    start = F.greatest(F.lit(0), F.col("first_pos") - window) + 1
    length = F.col("first_pos") + window + 1 - (start - 1)
    return (
        docs.join(hits, "doc_id")
        .select(
            "doc_id",
            "first_pos",
            F.array_join(
                F.slice(
                    F.split("text", " "),
                    start.cast("int"),
                    length.cast("int"),
                ),
                " ",
            ).alias("snippet"),
        )
    )


def compaction_plan(
    files: DataFrame,
    target: int,
    part_col: str = "part",
    size_col: str = "size",
    id_col: str = "file_id",
) -> DataFrame:
    """Small-file compaction planner: per table partition, group files
    into rewrite bins of ~`target` bytes — the maintenance job every
    100 TB lake runs nightly (Iceberg's binPack rewrite shape), planned
    engine-side so the scheduler never lists files on the driver.

    Bin rule: order files (size DESC, id ASC) within their partition and
    cut on the cumulative prefix — bin = cumsum_before div target.  Bins
    are contiguous runs of that order; bin b holds exactly the files
    whose preceding cumulative size lies in [b*target, (b+1)*target), so
    every bin's total is >= target minus the overhang it inherits (only
    the partition's LAST bin can be small), and any single file >=
    target lands alone or leading its own bin.  Deterministic: the
    (size DESC, id) order has no ties.

    Scale: ONE window partitioned by the table-partition key — parallel
    across partitions, which is exactly how real compaction planners
    shard the problem; within one partition the file list is bounded by
    compaction cadence (you compact before it grows unbounded), so the
    per-partition sort is small.  No global sort, no driver collect."""
    if target < 1:
        raise ValueError("target must be >= 1")
    sz = F.col(size_col).cast("long")
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(size_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # integer `div`, never double `/`: cum grows with partition bytes and
    # double division is only exact below 2^53 (the winnowing decode rule)
    return (
        files.select(
            F.col(part_col),
            F.col(id_col),
            sz.alias("size"),
            (F.sum(sz).over(w) - sz).alias("_before"),
        )
        .select(
            part_col,
            id_col,
            "size",
            F.expr(f"_before div {int(target)}").alias("bin"),
        )
    )


def _morton_z(xb, yb, bits: int):
    """Morton (Z-order) interleave of two `bits`-bit bucket columns —
    bit i of xb lands at 2i, of yb at 2i+1.  Built as an OR chain of
    2*bits single-bit terms (bits=8 -> 16 terms, the measured-safe size;
    the Catalyst constraint-propagation trap starts near ~64 COMPOUND
    terms — keep bits <= 16)."""
    z = None
    for i in range(bits):
        for col, off in ((xb, 0), (yb, 1)):
            t = F.shiftleft(
                F.shiftright(col, i).bitwiseAND(F.lit(1)), 2 * i + off
            )
            z = t if z is None else z.bitwiseOR(t)
    return z


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    n_files: int = 16,
    linear: bool = False,
) -> DataFrame:
    """Z-order (Morton-curve) file layout manifest — the lakehouse
    data-skipping primitive (Delta OPTIMIZE ZORDER BY / Iceberg sort
    orders): bucketize both dimensions to `bits` bits by min-max
    scaling, interleave into the Morton code z, assign rows to
    `n_files` equal-width z ranges, and emit the per-file zone map
    (file_id, n_rows, min/max of both raw dims) a scan planner prunes
    against.  linear=True lays out by x alone (a plain sort-by-x
    layout) — the baseline zorder_pruning compares against.

    Exactness: all-integer.  xb = (x - min_x) * 2^bits div
    (range + 1) — the +1 keeps xb < 2^bits with NO clamp and makes a
    constant dimension collapse to bucket 0; operands are non-negative
    so Spark div == DuckDB //.  Raw x must fit |x| * 2^bits < 2^63
    (epoch MICROseconds * 256 ~ 4e17 — safe; document before feeding
    nanos).

    Scale: one global min/max agg riding a one-row broadcast + one
    map-side-combinable groupBy(file_id) — no sort anywhere: the
    equal-width z split IS the range partitioning a writer would use
    (at 100 TB swap the min-max scale for sampled quantiles per dim to
    resist outliers; the manifest shape is unchanged)."""
    scaled = _xy_scaled(df, x_col, y_col, bits, n_files)
    m = 2**bits
    key = (
        scaled.select("__x", "__y", F.col("__xb").alias("__k"))
        if linear
        else scaled.select(
            "__x",
            "__y",
            _morton_z(F.col("__xb"), F.col("__yb"), bits).alias("__k"),
        )
    )
    return _curve_manifest(key, m if linear else m * m, n_files)


def _xy_scaled(
    df: DataFrame, x_col: str, y_col: str, bits: int, n_files: int
) -> DataFrame:
    """(__x, __y, __xb, __yb): min-max bucketized 2-D projection — the
    shared head of zorder_layout / hilbert_layout (one definition of
    the +1-range no-clamp scaling)."""
    if not (1 <= bits <= 16):
        raise ValueError("bits must be in 1..16")
    if not (1 <= n_files <= 2 ** (2 * bits)):
        raise ValueError("n_files must be in 1..2^(2*bits)")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    stats = df.agg(
        F.min(x).alias("__minx"),
        F.max(x).alias("__maxx"),
        F.min(y).alias("__miny"),
        F.max(y).alias("__maxy"),
    )
    m = 2**bits
    return df.crossJoin(F.broadcast(stats)).select(
        x.alias("__x"),
        y.alias("__y"),
        F.expr(
            f"((cast({x_col} as long) - __minx) * {m})"
            " div (__maxx - __minx + 1)"
        ).alias("__xb"),
        F.expr(
            f"((cast({y_col} as long) - __miny) * {m})"
            " div (__maxy - __miny + 1)"
        ).alias("__yb"),
    )


def _curve_manifest(key: DataFrame, space: int, n_files: int) -> DataFrame:
    """Equal-width curve-range file assignment + per-file zone map —
    the shared tail of the layout family."""
    coded = key.select(
        "__x",
        "__y",
        F.expr(f"__k * {int(n_files)} div {space}").alias("__pre"),
    )
    return coded.groupBy(F.col("__pre").alias("file_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("__x").alias("min_x"),
        F.max("__x").alias("max_x"),
        F.min("__y").alias("min_y"),
        F.max("__y").alias("max_y"),
    )


def _hilbert_key(scaled: DataFrame, bits: int) -> DataFrame:
    """(__x, __y, __k): Hilbert-curve distance of the bucketized point
    — the unrolled xy2d recursive descent (one small CASE projection
    per level, all integer div/% so the DuckDB twin is the same text;
    property-TESTED as a true Hilbert curve: bijective on the grid
    with unit-step adjacency between consecutive distances)."""
    cur = scaled.select(
        "__x",
        "__y",
        F.col("__xb").cast("long").alias("__hx"),
        F.col("__yb").cast("long").alias("__hy"),
        F.lit(0).cast("long").alias("__hd"),
    )
    for lvl in range(bits - 1, -1, -1):
        s = 1 << lvl
        quad = (
            f"(CASE WHEN (__hx div {s}) % 2 = 0"
            f" AND (__hy div {s}) % 2 = 0 THEN 0"
            f" WHEN (__hx div {s}) % 2 = 0 THEN 1"
            f" WHEN (__hy div {s}) % 2 = 1 THEN 2 ELSE 3 END)"
        )
        nx = (
            f"CASE WHEN (__hy div {s}) % 2 = 1 THEN __hx % {s}"
            f" WHEN (__hx div {s}) % 2 = 1 THEN {s} - 1 - (__hy % {s})"
            f" ELSE __hy % {s} END"
        )
        ny = (
            f"CASE WHEN (__hy div {s}) % 2 = 1 THEN __hy % {s}"
            f" WHEN (__hx div {s}) % 2 = 1 THEN {s} - 1 - (__hx % {s})"
            f" ELSE __hx % {s} END"
        )
        cur = cur.select(
            "__x",
            "__y",
            F.expr(nx).alias("__hx"),
            F.expr(ny).alias("__hy"),
            F.expr(f"__hd + {s * s} * {quad}").alias("__hd"),
        )
    return cur.select("__x", "__y", F.col("__hd").alias("__k"))


def hilbert_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    n_files: int = 16,
) -> DataFrame:
    """Hilbert-curve file layout manifest — zorder_layout's
    better-locality sibling (the Hilbert curve has no Morton 'seam'
    jumps: consecutive curve positions are ALWAYS grid neighbors, so
    per-file zone maps are tighter on average — measured by
    layout_locality).  Same min-max bucketize head, same equal-width
    range split and zone-map tail as zorder_layout (shared helpers);
    only the space-filling key differs, computed by `bits` unrolled
    integer CASE levels (xy2d recursive descent — no floats, no bit
    intrinsics, the identical div/% text runs in DuckDB).

    Scale: identical to zorder_layout — one broadcast min/max, narrow
    per-row key arithmetic, one groupBy(file_id)."""
    scaled = _xy_scaled(df, x_col, y_col, bits, n_files)
    m = 2**bits
    return _curve_manifest(_hilbert_key(scaled, bits), m * m, n_files)


def layout_locality(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    n_files: int = 12,
) -> DataFrame:
    """Locality report card over the three SHIPPED layouts (linear,
    zorder, hilbert): per layout, total zone-map AREA (sum over files
    of x_extent * y_extent) and total zone-map PERIMETER (sum of
    x_extent + y_extent).  The two metrics tell the whole story:
    linear strips minimize area but their perimeter is catastrophic
    (every file spans all of y — no second-dimension skipping);
    curves cut perimeter ~3x; and at a file count that is NOT a power
    of 4 (use the default 12, never 16 — power-of-4 splits make the
    two curves emit the SAME 4x4 grid and the card is vacuous,
    measured) Hilbert's seamless steps keep total area ~25% tighter
    than Morton's seam jumps (sf0.01: 561M vs 750M).

    Scale: three manifests (three scans — a planner report), each
    reduced to one row."""
    outs = []
    for name, man in (
        (
            "linear",
            zorder_layout(
                df, x_col, y_col, bits=bits, n_files=n_files, linear=True
            ),
        ),
        (
            "zorder",
            zorder_layout(df, x_col, y_col, bits=bits, n_files=n_files),
        ),
        ("hilbert", hilbert_layout(df, x_col, y_col, bits=bits, n_files=n_files)),
    ):
        xe = F.col("max_x") - F.col("min_x") + 1
        ye = F.col("max_y") - F.col("min_y") + 1
        outs.append(
            man.agg(
                F.lit(name).alias("layout"),
                F.count(F.lit(1)).alias("n_files_total"),
                F.sum(xe * ye).alias("total_area"),
                F.sum(xe + ye).alias("total_perimeter"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def zorder_pruning(
    df: DataFrame,
    x_col: str,
    y_col: str,
    box: tuple[int, int, int, int],
    bits: int = 8,
    n_files: int = 16,
) -> DataFrame:
    """Data-skipping effectiveness of the Z-order layout vs a plain
    sort-by-x layout for one 2-D box predicate (x_lo..x_hi,
    y_lo..y_hi, inclusive): a file is HIT when its zone map overlaps
    the box (the pruning test every scan planner runs).  Output: one
    row per layout (layout, n_files_total, files_hit, hit_milli) —
    smaller hit_milli = better skipping.  The linear layout cannot
    prune on y at all, so any y-selective box shows the z-curve's win.

    Scale: two zorder_layout manifests (two scans of df — acceptable
    for a planner report) + constant-size aggregation."""
    x_lo, x_hi, y_lo, y_hi = (int(v) for v in box)
    out = []
    for name, lin in (("zorder", False), ("linear", True)):
        man = zorder_layout(
            df, x_col, y_col, bits=bits, n_files=n_files, linear=lin
        )
        hit = (
            (F.col("max_x") >= x_lo)
            & (F.col("min_x") <= x_hi)
            & (F.col("max_y") >= y_lo)
            & (F.col("min_y") <= y_hi)
        )
        out.append(
            man.agg(
                F.lit(name).alias("layout"),
                F.count(F.lit(1)).alias("n_files_total"),
                F.sum(hit.cast("long")).alias("files_hit"),
            ).select(
                "layout",
                "n_files_total",
                "files_hit",
                F.expr("files_hit * 1000 div n_files_total").alias(
                    "hit_milli"
                ),
            )
        )
    return out[0].unionByName(out[1])


def rendezvous_shards(
    docs: DataFrame,
    n_shards: int = 8,
    removed: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment + the
    stability proof: shard(d) = argmax_s weight(d, s) with
    weight = first-14-hex-digits of md5(id || ':' || s) — the consistent
    placement scheme whose defining property is that REMOVING a shard
    relocates only that shard's own keys (no cascade), unlike mod-N.
    Returns (id, shard, shard_after, moved): shard_after recomputed with
    `removed` (default: the last shard) taken out of the candidate set,
    moved = 1 iff the assignment changed — which must hold exactly when
    shard == removed.

    Cross-engine exact: weights are integers from hex digits (the
    _hex_int_sql convention), argmax is ONE packed-bigint max — weight *
    16 + (15 - s), so ties (never in practice for md5, but determinism
    is the contract) break toward the SMALLEST shard id; weight < 16^14
    = 2^56 keeps the pack far inside LongType.

    Scale: n_shards weight rows per key from one row-local explode of a
    literal array (n_shards <= 16 — shard COUNTS beyond that belong to a
    two-level scheme), then one map-side-combinable groupBy(id): both
    argmaxes (full and reduced candidate set) come out of the SAME
    aggregate as conditional maxes — one pass, no second shuffle."""
    if not 2 <= n_shards <= 16:
        raise ValueError("n_shards must be in [2, 16]")
    removed = n_shards - 1 if removed is None else removed
    if not 0 <= removed < n_shards:
        raise ValueError("removed must name an existing shard")
    idc = F.col(id_col).cast("long")
    s = F.explode(
        F.array(*[F.lit(i) for i in range(n_shards)])
    ).alias("s")
    weighted = docs.select(idc.alias(id_col), s).select(
        id_col,
        "s",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col(id_col), F.col("s"))),
                    1,
                    14,
                ),
                16,
                10,
            ).cast("long")
            * 16
            + (F.lit(15) - F.col("s"))
        ).alias("packed"),
    )
    agg = weighted.groupBy(id_col).agg(
        F.max("packed").alias("_full"),
        F.max(
            F.when(F.col("s") != removed, F.col("packed"))
        ).alias("_red"),
    )
    shard = (F.lit(15) - F.col("_full") % 16).cast("long")
    shard_after = (F.lit(15) - F.col("_red") % 16).cast("long")
    return agg.select(
        id_col,
        shard.alias("shard"),
        shard_after.alias("shard_after"),
        (shard != shard_after).cast("long").alias("moved"),
    )


def postings_gap_stats(docs: DataFrame, min_df: int = 1) -> DataFrame:
    """Index-sizing report: per term, the delta-encoded posting-list
    cost — df, sum of gap bit-lengths (the entropy-ish lower bound a
    bit-packed index pays) and the varint byte cost (ceil(bits/7) per
    gap, the v-byte layout) — THE numbers an index-capacity plan needs
    before materializing inverted_index at corpus scale.

    Gaps over the ascending distinct doc_id postings; the first gap is
    doc_id + 1 (delta from the -1 sentinel) so every gap >= 1 and
    bitlen(g) = length(conv(g, 10, 2)) is well-defined — identical to
    DuckDB length(format('{:b}', g)) (the HLL rho convention).

    Scale: distinct (term, doc) pairs then ONE window partitioned by
    term for the lag — the same term-keyed exchange inverted_index
    itself pays, reused for the stamp; skewed (stopword) terms cost rows
    in one partition's sort, bounded by df, and min_df/max_df pruning
    belongs upstream of any posting store anyway."""
    dt = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = dt.select(
        "term",
        (F.col("doc_id") - F.lag("doc_id", 1, -1).over(w)).alias("gap"),
    )
    bits = F.length(F.conv(F.col("gap"), 10, 2)).cast("long")
    out = gaps.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(bits).alias("bits_delta"),
        F.sum(F.expr("(length(conv(gap, 10, 2)) + 6) div 7")).cast(
            "long"
        ).alias("bytes_vbyte"),
    )
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out


def domain_quality_prior(
    docs: DataFrame,
    k: int = 20,
    part_col: str = "source",
) -> DataFrame:
    """Per-domain quality prior with empirical-Bayes shrinkage: the
    curation signal CCNet/RefinedWeb-style pipelines keep per host —
    a domain's mean doc quality pulled toward the corpus mean by `k`
    pseudo-counts, so a 2-document domain cannot outrank a 2,000-
    document one on noise.  prior_milli = (Σq*1000 + k*gm_milli) div
    (n + k), where q = alpha-chars * 1000 div (len+1) per doc (the
    integer alpha-ratio permille) and gm_milli = (Σ_all q * 1000) div
    N — every step integer division, so sums are order-free and
    cross-engine exact (the pagerank convention).

    Scale: one map-side-combinable groupBy(part_col) over per-row
    integer projections + a one-row global aggregate broadcast-crossed
    back in (the hyperplane-ride pattern) — no window, no second pass
    over text."""
    if k < 0:
        raise ValueError("k must be >= 0")
    q = F.expr(
        "cast(length(regexp_replace(text, '[^a-zA-Z]', '')) as bigint)"
        " * 1000 div (length(text) + 1)"
    )
    scored = docs.select(F.col(part_col), q.alias("q"))
    g = scored.agg(
        F.expr("sum(q) * 1000 div count(1)").alias("gm_micro")
    )
    per = scored.groupBy(part_col).agg(
        F.sum("q").cast("long").alias("_sq"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            part_col,
            "n_docs",
            F.expr("_sq * 1000 div n_docs").alias("mean_micro"),
            F.expr(
                f"(_sq * 1000 + {int(k)} * gm_micro) div (n_docs + {int(k)})"
            ).alias("prior_micro"),
        )
    )


def textrank_keywords(
    docs: DataFrame,
    iters: int = 2,
    k: int = 50,
    damping_pct: int = 85,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the token co-occurrence graph — corpus-level salient terms without
    any supervised signal, the classic unsupervised keyword op a data
    card or topic index wants next to tfidf_top_terms (which needs a
    document to score against; this ranks the corpus vocabulary itself).

    Graph: distinct ADJACENT token pairs (window 2, the paper's default)
    as undirected edges — both directions added, self-loops dropped; the
    symmetric edge set means every node has outdeg >= 1 (no dangling
    mass).  Ranks are the shared integer pagerank (teleport + damped
    in-mass, micro-probs), so scores are cross-engine bit-identical;
    top-k by (rank_micro DESC, term) with rk derived over the k
    survivors (the top_suppliers convention — TakeOrderedAndProject,
    never a corpus-wide row_number).

    Scale: the bigram stream is _gram_stream (codegen'd zip-slice, the
    measured 6x-over-transform form), edges dedup by one groupBy on the
    pair; pagerank's bounded-round shape does the rest.  Vocabulary is
    the node count — a 100 TB corpus's distinct-token graph is millions
    of nodes, far inside pagerank's ~10^11 overflow bound."""
    # F.get (null on invalid index), NOT getItem: Catalyst may reorder
    # this filter ahead of _gram_stream's internal null-tail filter, and
    # under ANSI mode getItem(1) on the incomplete tail gram ERRORS —
    # .count() prunes the expression and hides it (the noop-timing trap,
    # caught here by full evaluation); null src/dst rows drop in the
    # inequality filter
    parts = F.split("g", " ")
    bg = (
        _gram_stream(docs, 2)
        .select(
            F.get(parts, 0).alias("src"),
            F.get(parts, 1).alias("dst"),
        )
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    edges = bg.union(
        bg.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pr = pagerank(edges, iters=iters, damping_pct=damping_pct)
    top = pr.orderBy(F.col("rank_micro").desc(), "node").limit(k)
    w = Window.orderBy(F.col("rank_micro").desc(), "node")
    return top.select(
        F.col("node").alias("term"),
        "rank_micro",
        F.row_number().over(w).cast("long").alias("rk"),
    )


def oov_rate(
    docs: DataFrame, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Out-of-vocabulary audit: per (split, lang), the fraction of token
    OCCURRENCES whose type never appears in the train split — the number
    that tells a tokenizer/vocab team whether the eval splits are even
    scorable under a train-derived vocabulary (high OOV ⇒ the split is
    measuring vocabulary mismatch, not model quality).

    Splits are train_split_assign's content-free md5 buckets (the
    split_leakage convention), so the audit scores the SHIPPED split
    logic.  oov_permille = n_oov * 1000 div n_tokens, integer.

    Scale: the train vocabulary is a distinct over the train token
    stream (map-side combinable); the eval streams LEFT ANTI probe it on
    the token key — vocab is never collected or broadcast-by-hand (AQE
    picks broadcast when the vocab is small); one final tiny groupBy.
    Token stream is _gram_stream(1) — no per-row Python anywhere."""
    assigned = train_split_assign(docs, val_pct, test_pct).select(
        "doc_id", "split"
    )
    toks = _gram_stream(docs, 1, carry=("lang",)).join(assigned, "doc_id")
    vocab = (
        toks.filter(F.col("split") == "train").select("g").distinct()
    )
    ev = toks.filter(F.col("split") != "train")
    oov = (
        ev.join(vocab, "g", "left_anti")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_oov"))
    )
    tot = ev.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    return (
        tot.join(oov, ["split", "lang"], "left")
        .select(
            "split",
            "lang",
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.expr(
                "coalesce(n_oov, 0L) * 1000 div n_tokens"
            ).alias("oov_permille"),
        )
    )


def k_anonymity(
    docs: DataFrame,
    k: int = 5,
    band: int = 500,
    qi_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (qi_cols +
    a length band): every released group must contain at least `k`
    records or its members are re-identifiable by the QI combination
    alone (Sweeney 2002) — the privacy gate a corpus release runs next
    to pii_scrub (which redacts direct identifiers; this catches the
    INDIRECT ones: rare language × source × size combinations).

    Output: one row per occupied QI cell with its population and
    risky = 1 when n_docs < k (the cells a release must suppress or
    generalize).  len_band = n_chars div band — non-negative, so Spark
    `div` ≡ DuckDB `//` (the r4 signed-division trap does not apply).

    Scale: ONE map-side-combinable groupBy over per-row integer
    projections — no window, no join, no second pass; cardinality is
    the occupied-cell count, orders below the corpus."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if band < 1:
        raise ValueError("band must be >= 1")
    return (
        docs.groupBy(
            *qi_cols,
            F.expr(f"cast(n_chars as bigint) div {int(band)}").alias("_tmp"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            *qi_cols,
            F.col("_tmp").alias("len_band"),
            "n_docs",
            (F.col("n_docs") < k).cast("long").alias("risky"),
        )
    )


def l_diversity(events: DataFrame, l: int = 3) -> DataFrame:
    """Distinct l-diversity audit over the event log (Machanavajjhala
    et al. 2007 — the gate k_anonymity alone misses): a released cell
    can satisfy k-anonymity with many rows yet still leak if they all
    belong to ONE user.  QI cell = (event_type, hour-of-day); sensitive
    attribute = user_id; a cell is risky when it contains fewer than
    `l` distinct users.  Output: one row per occupied cell with its
    event count, distinct-user count, and the risky verdict.

    Exactness: hour-of-day extraction on the naive (NTZ) timestamp is
    timezone-free and engine-identical; everything else is counts.

    Scale: TWO map-side-combinable groupBys — (type, hour, user) then
    the cell rollup where n_users = count of per-user rows — never a
    countDistinct (whose Expand doubles the stream); cardinality is
    |types| × 24 at the top."""
    if l < 1:
        raise ValueError("l must be >= 1")
    per_user = events.groupBy(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        "user_id",
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return per_user.groupBy("event_type", "hod").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.count(F.lit(1)) < l).cast("long").alias("risky"),
    )


def t_closeness(
    docs: DataFrame,
    band: int = 50,
    t_micro_max: int = 200000,
    qi_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """t-closeness audit (Li/Li/Venkatasubramanian ICDE 2007) — the
    third gate of the release trio: k_anonymity bounds cell SIZE,
    l_diversity bounds sensitive-value VARIETY, and this bounds how far
    a cell's sensitive-value DISTRIBUTION drifts from the global one —
    a cell can hold many docs from many users and still leak ("every
    doc in this lang×source cell is tiny").  Sensitive attribute here:
    the doc length band (n_chars div band), an ORDERED attribute, so
    the Earth Mover's Distance has the closed form
    EMD = (1/(m-1)) · Σ_i |Σ_{j≤i} (P_j − Q_j)| over the m global bands.

    Integer convention (the floored micro-unit recipe): per-band
    probabilities are quantized FIRST — d_j = cq_j·10⁶ div cn −
    gq_j·10⁶ div gn, both operands non-negative so Spark div ≡ DuckDB
    // — then t_micro = Σ|cumsum(d)| div (m−1).  The statistic IS this
    integer formula (documented truncation ≤ m micro-units), so both
    engines compute identical values with zero float ops.

    Scale: two map-side-combinable groupBys over per-row projections
    (global band counts; cell×band counts), then everything downstream
    — the cells×bands grid cross join, the per-cell cumulative window,
    the rollup — runs on aggregate tables whose cardinality is
    |cells|·|bands|, orders below the corpus.  The window is fine
    there; never run it on the raw doc stream."""
    if band < 1:
        raise ValueError("band must be >= 1")
    if t_micro_max < 0:
        raise ValueError("t_micro_max must be >= 0")
    bb = docs.select(
        *qi_cols,
        F.expr(f"cast(n_chars as bigint) div {int(band)}").alias("b"),
    )
    glob = bb.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("gq"))
    tot = glob.agg(
        F.sum("gq").cast("long").alias("gn"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    cells = bb.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("cn")
    )
    cell_band = bb.groupBy(*qi_cols, "b").agg(
        F.count(F.lit(1)).cast("long").alias("cq")
    )
    grid = cells.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(tot))
    full = grid.join(cell_band, [*qi_cols, "b"], "left").select(
        *qi_cols,
        "b",
        "cn",
        "m",
        (
            F.expr("coalesce(cq, 0L) * 1000000 div cn")
            - F.expr("gq * 1000000 div gn")
        ).alias("d"),
    )
    w = (
        Window.partitionBy(*qi_cols)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = full.select(
        *qi_cols, "cn", "m", F.sum("d").over(w).alias("cum")
    )
    return (
        cum.groupBy(*qi_cols)
        .agg(
            F.max("cn").alias("n_docs"),
            F.expr(
                "sum(abs(cum)) div max(case when m > 1 then m - 1"
                " else 1 end)"
            ).alias("t_micro"),
        )
        .select(
            *qi_cols,
            "n_docs",
            "t_micro",
            (F.col("t_micro") > t_micro_max).cast("long").alias("risky"),
        )
    )


def good_turing(docs: DataFrame, n: int = 1, max_r: int = 10) -> DataFrame:
    """Good–Turing count-of-counts table over the word n-gram stream: for
    each observed frequency r ≤ max_r, the number of types N_r seen
    exactly r times and the discounted estimate r* = (r+1)·N_{r+1}/N_r
    (Good 1953) — the smoothing statistic an n-gram LM build reads to
    reallocate mass to unseen events (N_1/N is the unseen-mass
    estimate itself).  r_star_micro = (r+1)·N_{r+1}·10⁶ div N_r: every
    step integer, so sums are order-free and cross-engine exact.

    Pick `n` so the low-r region is populated: on a templated corpus
    every UNIGRAM may appear dozens of times (measured here: min count
    26 — r ≤ 10 empty), while the trigram stream has a real N_1 tail;
    an empty result is a sign the stream is too dense, not a bug.

    Scale: gram stream → two map-side-combinable groupBys (type
    counts, then count-of-counts whose cardinality is max observed
    frequency) + a self-join on the tiny count-of-counts table.  No
    window, no pass over text beyond the one explode."""
    if max_r < 1:
        raise ValueError("max_r must be >= 1")
    tc = (
        _gram_stream(docs, n)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cc = tc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    nxt = cc.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_next")
    )
    return (
        cc.filter(F.col("r") <= max_r)
        .join(nxt, "r", "left")
        .select(
            "r",
            "n_r",
            F.expr(
                "(r + 1) * coalesce(_n_next, 0L) * 1000000 div n_r"
            ).alias("r_star_micro"),
        )
    )


def distinct_ngrams(docs: DataFrame, n: int = 2) -> DataFrame:
    """Distinct-n diversity card (the NLG eval metric, Li et al. 2016)
    per language: n-gram occurrences, distinct n-gram types, and the
    type/occurrence permille — low values flag templated or repetitive
    sources a mixture plan should down-weight before training.

    Scale: the gram stream aggregates (lang, g) first (map-side
    combinable — the two-level form, never countDistinct's expand),
    then one tiny per-lang rollup."""
    gl = (
        _gram_stream(docs, n, carry=("lang",))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return gl.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.expr("count(1) * 1000 div sum(cnt)")
        .cast("long")
        .alias("distinct_permille"),
    )


def ngram_novelty(
    docs: DataFrame, n: int = 3, n_buckets: int = 10
) -> DataFrame:
    """Novelty decay curve: bucket the corpus into `n_buckets` doc-id
    ranges (ingestion order) and report, per bucket, the fraction of
    n-gram OCCURRENCES whose type first appears in that bucket's docs —
    the memorization/duplication curve data teams plot to see how fast
    a crawl stops contributing new text (a flat high curve = fresh
    corpus; a cliff = the crawl is re-reading itself).  An occurrence
    is novel iff its doc_id equals the gram's min doc_id — deterministic,
    occurrence-level (repeats inside the first doc all count novel,
    documented).  Requires contiguous doc_id in [0, N): bucket =
    doc_id · n_buckets div N (the triangle_count fixture convention).

    Scale: grams aggregate per (g, doc_id) first (map-side combine
    bounds the window input to distinct pairs), the per-gram min rides
    ONE gram-partitioned window, and N joins in as a one-row broadcast
    (the hyperplane-ride pattern).  No corpus self-join."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    nrow = docs.select(F.count(F.lit(1)).cast("long").alias("n_docs"))
    gd = (
        _gram_stream(docs, n)
        .groupBy("g", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    fw = gd.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("g"))
    )
    novel = F.when(F.col("doc_id") == F.col("first_doc"), F.col("cnt")).otherwise(
        F.lit(0)
    )
    return (
        fw.crossJoin(F.broadcast(nrow))
        .groupBy(
            F.expr(f"doc_id * {int(n_buckets)} div n_docs").alias("bucket")
        )
        .agg(
            F.sum("cnt").cast("long").alias("n_occ"),
            F.sum(novel).cast("long").alias("n_novel"),
        )
        .select(
            "bucket",
            "n_occ",
            "n_novel",
            F.expr("n_novel * 1000 div n_occ").alias("novelty_permille"),
        )
    )


def qlm_search(
    docs: DataFrame, terms: list[str], k: int = 10, mu: int = 2000
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) — the LM-based ranking that sits next to bm25_search
    in every retrieval stack:

        score(d) = Σ_t ln p(t|d),
        p(t|d) = (tf_td + μ·p(t|C)) / (len_d + μ)

    Candidates are docs containing ≥ 1 query term (the bm25 convention);
    every query term contributes — a missing term still adds its
    smoothed ln(μ·cf_t / C) mass, which is what separates QLM from a
    tf-only score.  Query terms absent from the WHOLE collection have
    p(t|C)=0 (ln undefined) and are dropped from the sum, documented.

    Exactness: each component is ln of an INTEGER —
        ln(tf·C + μ·cf_t) − ln(len_d + μ) − ln(C)
    — quantized to micro-nats (floor·10⁶) BEFORE summation, so the
    per-doc sum is an order-free integer (the unigram_surprisal
    convention; same documented 1-ulp-at-floor-boundary caveat).  Rank
    keys (score_micro DESC, doc_id ASC) are pure integers.

    Scale: the term filter prunes the token stream BEFORE any shuffle
    (≤ docs × |terms| rows); collection stats ride a ONE-ROW broadcast
    crossJoin; top-k is orderBy().limit(k) — TakeOrderedAndProject —
    with rank derived over the k survivors."""
    uniq = sorted(set(terms))
    if not uniq:
        raise ValueError("qlm_search needs at least one term")
    if mu < 1:
        raise ValueError("mu must be >= 1")
    words = F.split(F.col("text"), " ")
    base = docs.select("doc_id", words.alias("ws"), F.size(words).alias("dl"))
    tok = base.select("doc_id", F.explode("ws").alias("term")).filter(
        F.col("term").isin(uniq)
    )
    cfs = tok.agg(
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"__cf{i}")
            for i, t in enumerate(uniq)
        ]
    )
    stats = (
        base.agg(F.sum("dl").cast("long").alias("n_tok"))
        .crossJoin(cfs)
    )
    tfd = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"__tf{i}")
            for i, t in enumerate(uniq)
        ]
    )
    joined = (
        tfd.join(base.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
    )

    def lnq(col):
        return F.floor(F.log(col.cast("double")) * 1000000.0).cast("long")

    score = F.lit(0).cast("long")
    for i in range(len(uniq)):  # fixed addition order (integers anyway)
        cf, tf = F.col(f"__cf{i}"), F.col(f"__tf{i}")
        contrib = (
            lnq(tf * F.col("n_tok") + F.lit(int(mu)) * cf)
            - lnq(F.col("dl") + F.lit(int(mu)))
            - lnq(F.col("n_tok"))
        )
        score = score + F.when(cf > 0, contrib).otherwise(F.lit(0))
    ranked = joined.select("doc_id", score.alias("score_micro"))
    order = [F.col("score_micro").desc(), F.col("doc_id").asc()]
    topk = ranked.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def curriculum_order(
    docs: DataFrame,
    n_shards: int = 16,
    band_width: int = 250,
    seed: str = "cur0",
) -> DataFrame:
    """Curriculum training order (easy-first pacing, Bengio et al. 2009):
    (doc_id, band, shard, pos) where readers consume bands in ascending
    order and shuffle within a band — the data-ordering plan a staged
    pretraining run wants next to epoch_shuffle_plan (which decorrelates
    but ignores difficulty).

    Difficulty bands are THRESHOLDS on the integer alpha-ratio permille
    q (the domain_quality_prior proxy): band = (1000 − q) div band_width,
    0 = cleanest text first.  Threshold bands, never percentile ranks —
    a percentile curriculum needs a corpus-wide sort; bands keep the
    plan's shuffle count identical to epoch_shuffle_plan.  Within a band,
    shard/pos are the epoch_shuffle md5(seed:doc_id) permutation, so
    consecutive batches inside a band stay decorrelated from ingest
    order and a re-run reproduces the epoch exactly.

    Scale: ONE exchange hash-partitioned on (band, shard) + a
    within-partition sort; bands × shards partitions are balanced by the
    md5 shard assignment.  Non-negative div operands throughout
    (Spark div ≡ DuckDB //)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if band_width < 1:
        raise ValueError("band_width must be >= 1")
    q = F.expr(
        "cast(length(regexp_replace(text, '[^a-zA-Z]', '')) as bigint)"
        " * 1000 div (length(text) + 1)"
    )
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long"),
        F.lit(int(n_shards)),
    )
    keyed = docs.select(
        "doc_id",
        (F.lit(1000) - q).cast("long").alias("__d"),
        shard.alias("shard"),
        key.alias("__k"),
    ).select(
        "doc_id",
        F.expr(f"__d div {int(band_width)}").alias("band"),
        "shard",
        "__k",
    )
    w = Window.partitionBy("band", "shard").orderBy("__k", "doc_id")
    return keyed.select(
        "doc_id",
        "band",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def bm25_batch(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batched BM25: score MANY queries in one job — `queries` is the
    exploded (query_id, term) set and the result is each query's top-k
    (query_id, doc_id, score_micro, rank).  bm25_search runs one query
    with fixed-order per-term sums; that trick needs a static term list,
    so the batched form gets order-freedom differently: each (query,
    doc, term) contribution is ONE double built from an expression tree
    kept IDENTICAL to the oracle's (IEEE ops are deterministic given
    identical inputs), quantized to integer micro-units via floor BEFORE
    the per-(query, doc) sum — integer sums are order-free (the
    unigram_surprisal convention; ln's documented 1-ulp-at-boundary
    caveat applies).

    Scale: the query-term vocabulary broadcast-prunes the token stream
    BEFORE the tf shuffle; per-term df comes off the pruned tf table;
    collection stats ride a ONE-ROW broadcast; the final top-k window
    partitions by query_id (balanced — candidate sets are df-bounded),
    never a global sort."""
    qterms = queries.select("query_id", "term").distinct()
    terms = qterms.select("term").distinct()
    words = F.split(F.col("text"), " ")
    base = docs.select("doc_id", words.alias("ws"), F.size(words).alias("dl"))
    # r6: the collection-stats pass needs only dl, and
    # size(split(s, ' ')) == (spaces in s) + 1 for every non-null s —
    # counting via translate avoids materializing the token array a
    # second time in the stats subtree (null text mirrors size(null) =
    # -1 so the sum stays bit-identical on any input)
    dl_cheap = F.when(F.col("text").isNull(), F.lit(-1)).otherwise(
        F.length("text") - F.length(F.translate("text", " ", "")) + 1
    )
    stats = docs.select(dl_cheap.alias("dl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    tok = base.select(
        "doc_id", "dl", F.explode("ws").alias("term")
    ).join(F.broadcast(terms), "term")
    tf = tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    j = (
        tf.join(dfs, "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = (
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("total_dl")
            )
        )
    )
    cm = F.floor(contrib * F.lit(1000000.0)).cast("long")
    # r6 (guide §2.4 share one exchange): partition the contribution
    # stream by query_id ONLY — hash clustering on a subset of the
    # grouping keys satisfies the (query_id, doc_id) aggregate AND the
    # top-k window's partitioning, so the candidate-volume rows cross
    # the network once, not twice (2 Exchanges -> 1)
    scored = (
        j.select("query_id", "doc_id", cm.alias("cm"))
        .repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("cm").cast("long").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def retrieval_eval(
    docs: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Retrieval calibration row (the lsh_eval pattern, retrieval
    edition): run the SHIPPED batched ranker over queries whose truth
    doc is known (query_id = the doc the query terms were drawn from)
    and report hit@1, hit@k and the reciprocal-rank sum — the numbers a
    search team watches when they touch tokenization or scoring.
    rr_milli = 1000 div rank (integer — deterministic, slightly
    truncating, documented).

    Scale: one bm25_batch job + two tiny aggregates; nothing beyond the
    ranker's own shuffles."""
    ranked = bm25_batch(docs, queries, k=k)
    hits = ranked.filter(F.col("query_id") == F.col("doc_id"))
    q_tot = queries.select("query_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.sum((F.col("rank") == 1).cast("long"))
        .cast("long")
        .alias("hits_at_1"),
        F.sum(F.expr("1000 div rank")).cast("long").alias("rr_milli_sum"),
    )
    return (
        q_tot.crossJoin(F.broadcast(agg))
        .select(
            "n_queries",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("hits_at_1", F.lit(0)).cast("long").alias("hits_at_1"),
            F.coalesce("rr_milli_sum", F.lit(0))
            .cast("long")
            .alias("rr_milli_sum"),
        )
    )


def ndcg_discounts(k: int) -> list[tuple[int, int]]:
    """(rank, floor(10^6 / log2(rank+1))) literals for ranks 1..k —
    computed ONCE in driver Python and inlined as integer literals in
    BOTH engines, so the NDCG log never executes cross-engine at all
    (the strongest member of the transcendental-elimination family:
    the constant table)."""
    return [
        (r, int(math.floor(1_000_000.0 / math.log2(r + 1))))
        for r in range(1, k + 1)
    ]


def ndcg_eval(docs: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """NDCG@k of the SHIPPED batched ranker (the lsh_eval pattern,
    graded-relevance edition): rel(q, d) = number of DISTINCT query
    terms present in d (0..|q| — a deterministic graded label, unlike
    retrieval_eval's single planted truth doc), DCG_micro = Σ rel ·
    disc_micro(rank) over the ranker's top-k, IDCG_micro = the same sum
    over the ideal ordering (rel DESC, doc_id ASC) of ALL rel>0 docs,
    ndcg_milli = dcg·1000 div idcg.  Discounts are the ndcg_discounts
    literal table — zero cross-engine transcendentals; all sums are
    integer, order-free.

    Scale: one bm25_batch job + a rel table whose token stream is
    broadcast-pruned by the query vocabulary BEFORE the distinct (the
    bm25_batch trick); the ideal window partitions by query_id and is
    df-bounded; the discount map is k literals in the plan."""
    ranked = bm25_batch(docs, queries, k=k)
    qterms = queries.select("query_id", "term").distinct()
    terms = qterms.select("term").distinct()
    dtok = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .join(F.broadcast(terms), "term")
        .distinct()
    )
    rel = dtok.join(qterms, "term").groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("rel")
    )
    disc_pairs: list = []
    for r, w in ndcg_discounts(k):
        disc_pairs.extend([F.lit(r), F.lit(w)])
    disc = F.create_map(*disc_pairs)
    dcg = (
        ranked.join(rel, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("rel"), F.lit(0))
                * F.element_at(disc, F.col("rank").cast("int"))
            ).alias("g"),
        )
        .groupBy("query_id")
        .agg(F.sum("g").cast("long").alias("dcg_micro"))
    )
    iw = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    idcg = (
        rel.withColumn("irank", F.row_number().over(iw))
        .filter(F.col("irank") <= k)
        .select(
            "query_id",
            (F.col("rel") * F.element_at(disc, F.col("irank"))).alias("g"),
        )
        .groupBy("query_id")
        .agg(F.sum("g").cast("long").alias("idcg_micro"))
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "dcg_micro",
        "idcg_micro",
        F.expr(
            "CASE WHEN idcg_micro > 0 THEN dcg_micro * 1000 div idcg_micro "
            "ELSE 0 END"
        ).cast("long").alias("ndcg_milli"),
    )


def langid_eval(docs: DataFrame) -> DataFrame:
    """Language-ID calibration row (the lsh_eval pattern, classifier
    edition): the SHIPPED lang_id heuristic scored against the corpus
    truth label — one row per (true_lang, pred_lang) confusion cell with
    its population and the within-class permille (the per-class recall
    diagonal a curation team reads before trusting lang routing).
    cell_permille = n_docs · 1000 div class_n, integer.

    Scale: truth rides THROUGH lang_id's projection (carry — no
    join-back shuffle); one map-side-combinable groupBy to cells
    (cardinality ≤ |langs|²) and a tiny class-total broadcast join."""
    pred = lang_id(docs, carry=("lang",))
    cells = pred.groupBy(
        F.col("lang").alias("true_lang"), "pred_lang"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tots = cells.groupBy("true_lang").agg(
        F.sum("n_docs").cast("long").alias("class_n")
    )
    return cells.join(F.broadcast(tots), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.expr("n_docs * 1000 div class_n").alias("cell_permille"),
    )


def dup_rate_by_source(docs: DataFrame) -> DataFrame:
    """Per-source exact-duplicate data card: how much of each source is
    verbatim repetition of itself — the first number a mixture plan
    reads next to domain_quality_prior (a high-dup source gets its
    weight cut before any fancy near-dup pass runs).  Duplicate groups
    are md5(text) WITHIN the source; dup_permille =
    (n_docs − n_unique) · 1000 div n_docs.  Null-text docs are excluded
    (md5(NULL) groups would merge; documented).

    Scale: two-level groupBy — (source, hash) with map-side combine,
    then the tiny per-source rollup; never countDistinct's expand, no
    join, text touched once for the hash."""
    hashed = (
        docs.filter(F.col("text").isNotNull())
        .groupBy("source", F.md5("text").alias("_h"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return hashed.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.expr("(sum(cnt) - count(1)) * 1000 div sum(cnt)")
        .cast("long")
        .alias("dup_permille"),
    )


MAX_BADWORDS = 1000


def badwords_filter(docs: DataFrame, words: list[str]) -> DataFrame:
    """C4-style wordlist gate (Raffel et al. 2020 §2.2 drop docs
    containing blocklisted words): per doc, the count of DISTINCT
    blocklisted words present and the keep verdict.  Matching is on
    LOWERCASED ALPHA RUNS —
    'OmegaFlag!' hits 'omegaflag' — so punctuation or case cannot smuggle
    a listed word past the gate; substrings do NOT match ('class' never
    hits 'ass'-style entries), the word-boundary convention.

    Scale: the list rides the PLAN as a literal array
    (array_intersect-style row-level check — zero shuffle, zero join);
    that bounds the list at MAX_BADWORDS entries (plan size is O(list)).
    Past the bound, raise: the right shape there is the domain_blocklist
    broadcast-join form, not a bigger literal."""
    lw = sorted({w.lower() for w in words})
    if not lw:
        raise ValueError("badwords_filter needs at least one word")
    if len(lw) > MAX_BADWORDS:
        raise ValueError(
            f"{len(lw)} entries > MAX_BADWORDS={MAX_BADWORDS}: use a "
            "broadcast-join blocklist (the domain_blocklist shape) for "
            "lists this large"
        )
    toks = F.split(F.lower(F.col("text")), "[^a-z]+")
    lit_list = F.array(*[F.lit(w) for w in lw])
    # DISTINCT flagged types, not occurrences (array_intersect dedups;
    # an occurrence count would need a higher-order lambda — the
    # interpreted-per-element trap — or an explode+join; the C4 gate
    # itself only needs existence).  Both expressions are codegen'd.
    flagged_types = F.size(F.array_intersect(toks, lit_list))
    return docs.select(
        "doc_id",
        flagged_types.cast("long").alias("n_flagged_types"),
        (~F.arrays_overlap(toks, lit_list)).cast("long").alias("kept"),
    )


def hybrid_search(
    docs: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_each: int = 20,
    rrf_k: int = 60,
    *,
    force: bool = False,
) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. SIGIR
    2009): fuse each query's BM25 text ranking with the exact-cosine
    vector ranking of the query doc's own embedding —
        rrf_micro = Σ_side 10⁶ div (rrf_k + rank_side)
    with a missing side contributing 0.  Fusion is pure integer
    arithmetic over the two rank columns, so the fused ordering is
    cross-engine exact even though the inputs are float rankers (each
    side's rank is already deterministic: BM25 by micro-quantized
    integer scores, cosine by the (round(cos,4) DESC, id) convention).

    Scale: the text side is bm25_batch (pruned token stream); the vector
    side here is the exact baseline (broadcast query vectors × one
    corpus scan) and carries knn_bruteforce's refusal bound — at real
    scale swap that stage for quantized_knn / ivf_topk shortlists, the
    fusion is rank-only and does not care.  The full-outer fuse joins
    two k_each-bounded rank tables (≤ queries × k_each rows each)."""
    if not force:
        _refuse_above(
            emb,
            MAX_KNN_BRUTEFORCE_ROWS,
            "hybrid_search",
            "The vector stage is the exact baseline (linear scan); swap "
            "it for quantized_knn/ivf_topk shortlists at scale,",
        )
    text = bm25_batch(docs, queries, k=k_each).select(
        "query_id", "doc_id", F.col("rank").alias("text_rank")
    )
    qids = queries.select("query_id").distinct()
    qv = emb.join(
        F.broadcast(qids), emb["vec_id"] == qids["query_id"]
    ).select(
        "query_id", F.col("embedding").cast("array<double>").alias("qe")
    ).withColumn("na", _norm_fold(F.col("qe")))
    c = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("nb", _norm_fold(F.col("ce")))
    # r6 norms-once (the knn_bruteforce note): one dot fold per pair
    scored = (
        F.broadcast(qv)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id",
            "doc_id",
            (
                _dot_fold(F.col("qe"), F.col("ce"))
                / (F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.round("cos", 4).desc(), F.col("doc_id").asc()
    )
    vec = (
        scored.withColumn("vec_rank", F.row_number().over(wv).cast("long"))
        .filter(F.col("vec_rank") <= k_each)
        .select("query_id", "doc_id", "vec_rank")
    )
    fused = text.join(vec, ["query_id", "doc_id"], "full")
    contrib = lambda col: F.when(  # noqa: E731
        F.col(col).isNotNull(),
        F.expr(f"1000000 div ({int(rrf_k)} + {col})"),
    ).otherwise(F.lit(0))
    fused = fused.select(
        "query_id",
        "doc_id",
        F.coalesce("text_rank", F.lit(0)).cast("long").alias("text_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("long").alias("vec_rank"),
        (contrib("text_rank") + contrib("vec_rank"))
        .cast("long")
        .alias("rrf_micro"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn(
        "rank", F.row_number().over(wf).cast("long")
    ).filter(F.col("rank") <= k)


def kn_surprisal(docs: DataFrame, discount_milli: int = 750) -> DataFrame:
    """Per-doc surprisal under an interpolated Kneser–Ney bigram LM
    trained on the corpus itself (Kneser & Ney 1995; the KenLM-style
    perplexity signal CCNet buckets on, one order up from
    bigram_surprisal's raw MLE):

        p(w2|w1) = max(c12 − D, 0)/c1 + D·N1p(w1·)/c1 · N1p(·w2)/N1p(··)

    with D = discount_milli/1000 and continuation counts N1p = distinct
    left/right neighbors.  kn_micro = Σ_occurrences −floor(ln(p)·10⁶):
    every input to the expression tree is an INTEGER count, the tree is
    kept IDENTICAL to the oracle's, and quantization happens BEFORE the
    per-doc sum — order-free integer aggregation (the bm25_batch
    recipe; ln's documented 1-ulp-at-floor-boundary caveat).  p > 0 for
    every OBSERVED bigram (c12 ≥ 1 ⇒ both continuation counts ≥ 1), so
    ln is always defined here; unseen bigrams only matter when scoring
    held-out text against a frozen model — a param swap, not a new op.

    Scale: bigram counts + two continuation counts are map-side
    combinable groupBys over the gram stream; the per-occurrence join
    keys on the bigram (the tfidf shuffle shape); the N1p(··) constant
    rides a ONE-ROW broadcast."""
    if not 0 < discount_milli < 1000:
        raise ValueError("discount_milli must be in (0, 1000)")
    parts = F.split("g", " ")
    bg = (
        _gram_stream(docs, 2)
        .select(
            "doc_id",
            F.col("g"),
            F.get(parts, 0).alias("w1"),
            F.get(parts, 1).alias("w2"),
        )
        .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )
    c12 = bg.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    tails = c12.select(
        F.get(F.split("g", " "), 0).alias("w1"),
        F.get(F.split("g", " "), 1).alias("w2"),
        "c12",
    )
    lefts = tails.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p_l"),
    )
    rights = tails.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_r")
    )
    total = c12.agg(F.count(F.lit(1)).cast("long").alias("n1p_all"))
    probs = (
        tails.join(lefts, "w1")
        .join(rights, "w2")
        .crossJoin(F.broadcast(total))
    )
    d = discount_milli / 1000.0
    p = (
        F.greatest(F.col("c12") - F.lit(d), F.lit(0.0)) / F.col("c1")
        + F.lit(d)
        * F.col("n1p_l")
        / F.col("c1")
        * F.col("n1p_r")
        / F.col("n1p_all")
    )
    ptab = probs.select(
        F.concat_ws(" ", "w1", "w2").alias("g"),
        (-F.floor(F.log(p) * F.lit(1000000.0))).cast("long").alias("nll"),
    )
    return (
        bg.join(ptab, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nll").cast("long").alias("kn_micro"),
        )
    )


def prf_terms(
    docs: DataFrame,
    queries: DataFrame,
    fb_docs: int = 5,
    k_terms: int = 5,
) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (RM1-style, Lavrenko &
    Croft 2001, counts-only): for each query, take its top `fb_docs`
    BM25 documents and rank the terms of those documents by total
    occurrence count, excluding the query's own terms — the expansion
    list a second-pass retrieval round adds.  Pure integer ranking
    (tf_sum DESC, term ASC) with rk over the per-query top-k survivors.

    Scale: rides bm25_batch's pruned pipeline for the feedback set
    (queries × fb_docs rows), then ONE semi-join of the token stream
    against that set (the stream shrinks before its shuffle), a
    left-anti join kills the query's own terms, and the final window
    partitions by query_id over ≤ |feedback-vocab| rows per query."""
    if fb_docs < 1 or k_terms < 1:
        raise ValueError("fb_docs and k_terms must be >= 1")
    fb = bm25_batch(docs, queries, k=fb_docs).select("query_id", "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    cand = (
        toks.join(fb, "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf_sum"))
    )
    own = queries.select("query_id", "term").distinct()
    cand = cand.join(own, ["query_id", "term"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("tf_sum").desc(), F.col("term").asc()
    )
    return cand.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= k_terms)


def chi2_terms(
    docs: DataFrame, min_df: int = 5, k: int = 10
) -> DataFrame:
    """Chi-square feature selection: the top-k terms most associated
    with each language by the presence/absence contingency test — the
    classic supervised-feature-selection pass over a labeled corpus
    (which vocabulary separates the classes).

    Per (term, lang): a = docs of the lang containing the term,
    b = lang docs without it, c = other-lang docs containing it,
    d = the rest; chi2 = n·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)).

    Cross-engine exactness (the bm25_batch floored-double recipe):
    a/b/c/d and ad−bc are exact BIGINTs (|ad| ≤ n² — fine to ~3·10⁹
    docs); the chi2 value is computed ONCE per row with an IDENTICAL
    double expression tree on both engines (IEEE ops are deterministic
    — only aggregation order isn't, and there is no aggregation here),
    then floored to integer micro-units.  Terms in every doc are
    excluded (b+d = 0 divides by zero; they separate nothing anyway).

    Scale: presence dedup + two map-side-combinable groupBys over the
    token stream; lang totals and the corpus count ride broadcast; the
    top-k window partitions by lang (5-way, never a global sort)."""
    if min_df < 1 or k < 1:
        raise ValueError("chi2_terms: min_df and k must be >= 1")
    pres = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    tl = pres.groupBy("term", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    dfc = tl.groupBy("term").agg(F.sum("a").alias("df"))
    nl = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_lang")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = (
        tl.join(dfc, "term")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(n))
        .filter((F.col("df") >= min_df) & (F.col("df") < F.col("n")))
    )
    # identical expression tree as the DuckDB oracle — do not reorder
    chi2_micro = F.expr(
        "floor((cast(n as double) * cast(a*d - b*c as double)"
        " * cast(a*d - b*c as double))"
        " / (cast((a+b)*(c+d) as double) * cast((a+c)*(b+d) as double))"
        " * cast(1000000 as double))"
    ).cast("long")
    scored = base.select(
        "lang",
        "term",
        "a",
        "df",
        (F.col("n_lang") - F.col("a")).alias("b"),
        (F.col("df") - F.col("a")).alias("c"),
        (F.col("n") - F.col("n_lang") - F.col("df") + F.col("a")).alias("d"),
        "n",
    ).select("lang", "term", "a", "df", chi2_micro.alias("chi2_micro"))
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2_micro").desc(), F.col("term").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def _random_walks_driver(
    e: DataFrame, seeds: DataFrame, seed_col: str, walk_len: int,
    hash_budget: int = 3_000_000,
) -> DataFrame | None:
    """r6 driver fast path for random_walks (the kcore pattern): the
    hash-guided argmin walk is a pure function of the distinct edge
    list — md5 is the same bytes everywhere, so the per-step
    min(hv·2³²+dst) choice is replayed exactly with hashlib.  Returns
    None (caller runs the distributed loop) above the edge bound, above
    100 000 seed rows, or if the walk would evaluate more than hash_budget md5 candidates (a
    hub-heavy worst case the distributed join absorbs better)."""
    import hashlib

    ep = _collect_within(e, GRAPH_DRIVER_MAX_EDGES)
    if ep is None:
        return None
    sp_ = _collect_within(
        seeds.select(F.col(seed_col).cast("long").alias("w")), 100_000
    )
    if sp_ is None:
        return None
    adj: dict = {}
    for s_, d_ in zip(ep["src"].tolist(), ep["dst"].tolist()):
        adj.setdefault(int(s_), []).append(int(d_))
    seed_rows = [int(v) for v in sp_["w"].tolist()]
    rows = [(w, 0, w) for w in seed_rows]
    evals = 0
    for w in sorted(set(seed_rows)):
        cur = w
        for s in range(1, walk_len + 1):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            evals += len(nbrs)
            if evals > hash_budget:
                return None
            best = None
            for d_ in nbrs:
                if not (0 <= d_ < 2**32):
                    raise ValueError(
                        "random_walks: dst outside [0, 2^32) packing bound"
                    )
                hv = int(
                    hashlib.md5(f"{w}:{s}:{d_}".encode()).hexdigest()[:7], 16
                )
                p = hv * 2**32 + d_
                if best is None or p < best:
                    best = p
            cur = best % 2**32
            rows.append((w, s, cur))
    pdf = pd.DataFrame(rows, columns=["walk_id", "step", "node"])
    return e.sparkSession.createDataFrame(
        pdf, schema="walk_id bigint, step int, node bigint"
    )


def random_walks(
    edges: DataFrame, seeds: DataFrame, walk_len: int = 4
) -> DataFrame:
    """Deterministic 'random' walks for graph-embedding training data
    (the DeepWalk/node2vec corpus shape): one walk per seed node, each
    step moving to the out-neighbor that minimizes a cryptographic
    hash of (walk_id, step, neighbor) — uniform-looking, reproducible,
    and ORACLE-CHECKABLE, unlike true RNG walks.

    Spark-first: per step ONE equi-join frontier→edges plus ONE packed
    argmin aggregate, min(hv·2³² + dst) where hv = first SEVEN md5 hex
    digits (hv < 2²⁸ keeps the pack under 2⁶⁰ — the winnowing packing
    family; 8 digits would overflow signed 64-bit).  dst is
    range-guarded per row with raise_error (min() silently ignores
    nulls — the latest_snapshot gap).  The frontier localCheckpoints
    per step (the pagerank lesson: without it step k re-executes the
    whole k−1 chain).  Walks at sink nodes terminate early.

    Scale: frontier is |seeds| rows; the join shuffles on the uniform
    node key; walk_len is a driver-sequenced constant (≤ 32 enforced —
    each step is one job, the bpe_merges bound pattern).

    Output: (walk_id, step, node), step 0 = the seed itself."""
    if not 1 <= walk_len <= 32:
        raise ValueError("random_walks: walk_len in [1, 32]")
    e = edges.select("src", "dst").distinct()
    seed_col = seeds.columns[0]
    fast = _random_walks_driver(e, seeds, seed_col, walk_len)
    if fast is not None:
        return fast
    frontier = seeds.select(
        F.col(seed_col).cast("long").alias("walk_id"),
        F.col(seed_col).cast("long").alias("cur"),
    )
    steps = [
        frontier.select(
            "walk_id", F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for s in range(1, walk_len + 1):
        j = frontier.join(e, frontier.cur == e.src)
        hv = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("walk_id").cast("string"),
                        F.lit(f":{s}:"),
                        F.col("dst").cast("string"),
                    )
                ),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        dst_ok = (F.col("dst") >= 0) & (F.col("dst") < F.lit(2**32))
        packed = F.when(
            dst_ok, hv * F.lit(2**32) + F.col("dst")
        ).otherwise(
            F.raise_error(
                F.lit("random_walks: dst outside [0, 2^32) packing bound")
            ).cast("long")
        )
        nxt = j.select("walk_id", packed.alias("p")).groupBy("walk_id").agg(
            F.min("p").alias("p")
        )
        frontier = nxt.select(
            "walk_id", F.pmod("p", F.lit(2**32)).alias("cur")
        ).localCheckpoint()
        steps.append(
            frontier.select(
                "walk_id", F.lit(s).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def skipgram_pairs(
    docs: DataFrame, window: int = 2, min_count: int = 5
) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts within a ±window
    token neighborhood — the word2vec/GloVe training-corpus shape
    (negative_samples supplies the matching noise distribution;
    pmi_collocations is the adjacent-bigram special case with a lift
    ranking on top).

    Built the _gram_stream way (NO higher-order lambdas — the measured
    r3 rule: transform() is interpreted per element): arrays_zip the
    word array with its shifted slices, explode ONCE, then emit the
    2·window directed pairs per position from a literal struct array
    (CreateArray/CreateStruct stay in whole-stage codegen).  Both
    directions are emitted so n_pairs(a, b) == n_pairs(b, a) — the
    word2vec convention.  Null contexts (zip padding past the end of
    the document) are filtered after the pair explode.

    Scale: one explode (corpus token stream × 2·window rows) feeding
    ONE map-side-combinable groupBy on (center, context); the min_count
    filter sits on the aggregate.  No joins, no window functions, no
    per-doc state — partitions by the shuffle hash of the pair key."""
    if not 1 <= window <= 8:
        raise ValueError("skipgram_pairs: window in [1, 8]")
    words = F.split(F.col("text"), " ")
    arrs = [words] + [
        F.slice(words, d + 1, F.greatest(F.size(words) - d, F.lit(1)))
        for d in range(1, window + 1)
    ]
    exploded = docs.filter(F.size(words) >= 2).select(
        F.explode(F.arrays_zip(*arrs)).alias("s")
    )
    w0 = F.col("s").getItem("0")
    structs = []
    for d in range(1, window + 1):
        wd = F.col("s").getItem(str(d))
        structs.append(F.struct(w0.alias("center"), wd.alias("context")))
        structs.append(F.struct(wd.alias("center"), w0.alias("context")))
    return (
        exploded.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.center", "p.context")
        .filter(F.col("center").isNotNull() & F.col("context").isNotNull())
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= min_count)
    )


def _frequent_presence(
    docs: DataFrame, min_support: int
) -> DataFrame:
    """(doc_id, tok) presence stream restricted to tokens whose document
    frequency is >= min_support — the a-priori L1 stage shared by
    frequent_pairs and its overflow twin.  The frequent-token table is
    vocabulary-bounded, so it rides as a broadcast semi-join side."""
    pres = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).distinct()
    freq = (
        pres.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_support)
    )
    return pres.join(F.broadcast(freq.select("tok")), "tok", "leftsemi")


def frequent_pairs(
    docs: DataFrame, min_support: int = 100, max_doc_tokens: int = 30
) -> DataFrame:
    """A-priori frequent token pairs: market-basket mining treating each
    document's DISTINCT token set as a basket; support = number of
    documents containing both tokens.

    Downward closure is the scale lever: a pair can reach min_support
    only if both members do, so the per-doc self-join runs over the
    frequent-token presence stream only (_frequent_presence) — the
    classic a-priori candidate prune, here as one broadcast semi-join
    instead of a generation loop.  Residual skew guard: a doc with many
    distinct frequent tokens fans out quadratically, so docs above
    max_doc_tokens are DROPPED from the counts and listed loudly by
    frequent_pairs_overflow (the LSH-cap convention; the cap is
    driver-checked ACTIVE — the entry runs max_doc_tokens=29 and the
    ~30 docs carrying all 30 frequent tokens trip it at both gate SFs).

    Output: (tok_a, tok_b, support) with tok_a < tok_b lexicographic."""
    pf = _frequent_presence(docs, min_support)
    ok = (
        pf.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_freq"))
        .filter(F.col("n_freq") <= max_doc_tokens)
    )
    kept = pf.join(ok.select("doc_id"), "doc_id", "leftsemi")
    a = kept.select("doc_id", F.col("tok").alias("tok_a"))
    b = kept.select("doc_id", F.col("tok").alias("tok_b"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


def frequent_pairs_overflow(
    docs: DataFrame, min_support: int = 100, max_doc_tokens: int = 30
) -> DataFrame:
    """The loud companion of frequent_pairs: documents whose distinct
    FREQUENT-token count exceeds max_doc_tokens (and are therefore
    excluded from pair supports), with the count that tripped the cap."""
    pf = _frequent_presence(docs, min_support)
    return (
        pf.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_freq"))
        .filter(F.col("n_freq") > max_doc_tokens)
    )


def gini_activity(events: DataFrame) -> DataFrame:
    """Per-event-type Gini coefficient of user activity — the standard
    inequality card for "is this stream dominated by a few power
    users?" (data-mixture and sampling decisions key off it; the
    rolling_active_users stickiness card is its temporal sibling).

    All-integer exactness: with per-user counts x sorted ascending and
    ranked i = 1..n (ties broken by user_id — tie-stable: a tied block
    occupies a fixed set of rank positions, so sum(i·x) is invariant to
    intra-tie order), Gini = (2·Σi·x − (n+1)·Σx) / (n·Σx), reported
    floored to micro-units via ordered integer division.  Overflow
    guard: the numerator is bounded by (n−1)·Σx·10⁶, so the aggregate
    REFUSES (raise_error) when n·Σx > 2⁴³ (~8.8e12) — at that scale run
    per shard or bucket counts into a value histogram first (the
    length_percentiles pattern) instead of exact ranks.

    Scale: one map-side-combinable (event_type, user_id) count, one
    per-type rank window (sort scoped to the type partition), one
    final aggregate.  No joins."""
    cnts = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("cnt", "user_id")
    ranked = cnts.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cnt").alias("total_events"),
        F.sum(F.col("i") * F.col("cnt")).alias("s1"),
    )
    n, s0 = F.col("n_users"), F.col("total_events")
    num = F.when(
        (n * s0) <= F.lit(2**43),
        (F.lit(2) * F.col("s1") - (n + F.lit(1)) * s0) * F.lit(1_000_000),
    ).otherwise(
        F.raise_error(
            F.lit("gini_activity: n*total > 2^43 — shard or histogram")
        ).cast("long")
    )
    return agg.select(
        "event_type",
        "n_users",
        "total_events",
        num.alias("_num"),
    ).select(
        "event_type",
        "n_users",
        "total_events",
        F.expr("_num div (n_users * total_events)").alias("gini_micro"),
    )


def hhi_sources(docs: DataFrame) -> DataFrame:
    """Per-language Herfindahl–Hirschman concentration of documents
    across sources, plus the top source's share — the "is this slice
    of the corpus really one crawl seed wearing twenty hats?" card
    (mirror_hosts finds literal mirrors; this finds statistical
    dominance).

    All-integer: HHI = Σ(cnt/total)² reported in micro-units as
    (Σcnt²·10⁶) div total div total (ordered division — both stages
    stay under 2⁶³ while total ≤ ~3e6, enforced with a raise_error
    refusal; beyond that run per shard and merge Σcnt² partials, which
    are exact under addition).  top_share_micro = max(cnt)·10⁶ div
    total.

    Scale: two map-side-combinable groupBys ((lang, source) then
    lang).  No joins, no windows."""
    cnts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    agg = cnts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("cnt").alias("total_docs"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
        F.max("cnt").alias("mx"),
    )
    guard = F.when(
        F.col("total_docs") <= F.lit(3_000_000),
        F.col("sq") * F.lit(1_000_000),
    ).otherwise(
        F.raise_error(
            F.lit("hhi_sources: total > 3e6 — shard and merge sum(cnt^2)")
        ).cast("long")
    )
    return agg.select(
        "lang",
        "n_sources",
        "total_docs",
        guard.alias("_sq6"),
        (F.col("mx") * F.lit(1_000_000)).alias("_t6"),
    ).select(
        "lang",
        "n_sources",
        "total_docs",
        F.expr("_sq6 div total_docs div total_docs").alias("hhi_micro"),
        F.expr("_t6 div total_docs").alias("top_share_micro"),
    )


def weighted_sample_eval(
    docs: DataFrame,
    weight_col: str = "n_chars",
    w_max: int = 300,
    salt: str = "ws0",
) -> DataFrame:
    """Calibration row for the SHIPPED weighted_sample (the lsh_eval
    pattern: score production code in-engine, never a reimplementation):
    the Horvitz–Thompson estimate of total corpus chars reconstructed
    from the sample, vs the exact total.

    All-integer HT: inclusion probability p = min(w, w_max)/w_max, so
    each kept doc contributes n_chars/p = (n_chars · w_max · 1000) div
    min(n_chars, w_max) milli-chars — for short docs (w = n_chars) that
    telescopes to exactly w_max·1000, which is why this sampler's HT
    estimator is low-variance by construction.  ratio_milli =
    ht_est_milli div exact_chars should sit near 1000; drift flags a
    broken hash or a changed keep rule.

    Scale: the sampler is a scan-local filter; the eval adds two global
    single-row aggregates.  Output: ONE row (n_docs, n_kept,
    exact_chars, ht_est_milli, ratio_milli)."""
    kept = weighted_sample(
        docs, weight_col=weight_col, w_max=w_max, salt=salt, project=False
    )
    wc = F.col(weight_col).cast("long")
    ht = kept.select(
        F.expr(
            f"({weight_col} * {w_max} * 1000) div least({weight_col},"
            f" {w_max}L)"
        ).alias("c")
    ).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.coalesce(F.sum("c"), F.lit(0)).alias("ht_est_milli"),
    )
    exact = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(wc).alias("exact_chars"),
    )
    return exact.crossJoin(F.broadcast(ht)).select(
        "n_docs",
        "n_kept",
        "exact_chars",
        "ht_est_milli",
        F.expr("ht_est_milli div exact_chars").alias("ratio_milli"),
    )


def lang_entropy_by_source(docs: DataFrame) -> DataFrame:
    """Per-source Shannon entropy of the language mix in micro-nats —
    the diversity card ("is this source monolingual?") that complements
    hhi_sources' concentration view.

    Cross-engine exactness (the bm25_batch recipe): each (source, lang)
    contributes floor((cnt/total) · ln(total/cnt) · 1e6) with the float
    expression tree kept IDENTICAL on both engines — IEEE doubles are
    deterministic, only aggregation order isn't, and flooring to
    micro-units BEFORE the integer sum kills the order sensitivity.
    The residual 1-ulp-at-a-floor-boundary caveat is the documented
    unigram_surprisal one.

    Scale: one map-side-combinable (source, lang) count, one per-source
    window sum (partition-scoped), one final aggregate.  No joins."""
    cnts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = F.sum("cnt").over(Window.partitionBy("source"))
    term = F.floor(
        (F.col("cnt").cast("double") / F.col("total").cast("double"))
        * F.log(
            F.col("total").cast("double") / F.col("cnt").cast("double")
        )
        * F.lit(1000000.0)
    ).cast("long")
    return (
        cnts.withColumn("total", total)
        .withColumn("term_micro", term)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.max("total").alias("n_docs"),
            F.sum("term_micro").alias("entropy_micro"),
        )
    )


def walk_skipgrams(walks: DataFrame, window: int = 2) -> DataFrame:
    """DeepWalk training pairs from a (walk_id, step, node) walk table
    (random_walks' output shape): directed (center, context) node pairs
    within ±window steps ON THE SAME WALK, count-aggregated — the graph
    twin of skipgram_pairs (Perozzi et al., KDD'14: walks are the
    sentences, nodes the words).

    Scale: self-join keyed on walk_id — walks are short (walk_len+1
    rows), so per-row fanout is ≤ 2·window and the join input is the
    seed count × walk length, not the corpus; one map-side-combinable
    groupBy on the pair."""
    if not 1 <= window <= 16:
        raise ValueError("walk_skipgrams: window in [1, 16]")
    a = walks.select(
        "walk_id", F.col("step").alias("sa"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("sb"), F.col("node").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("sa") != F.col("sb"))
            & (F.abs(F.col("sa") - F.col("sb")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# floor(CDF_Poisson(1)(k) * 2^32) for k = 0..6 — the inverse-CDF
# thresholds of the Poissonized bootstrap.  Computed ONCE here from
# libm doubles and used as integer LITERALS on both engines (the
# oracle interpolates this tuple), so engine libm differences cannot
# split the multiplicity decision.
_POISSON1_CDF_U32 = tuple(
    int(math.floor(2**32 * math.exp(-1) * sum(
        1.0 / math.factorial(j) for j in range(k + 1)
    )))
    for k in range(7)
)


def bootstrap_ci(
    docs: DataFrame,
    value_col: str = "n_chars",
    b_reps: int = 64,
    salt: str = "bs",
) -> DataFrame:
    """Deterministic Poissonized bootstrap of the corpus mean — the
    error-bar card for any per-doc statistic ("is the mean doc length
    of slice A really above slice B?").  True bootstrap multinomial
    resampling is replaced by independent Poisson(1) multiplicities
    per (doc, replicate) — the standard large-n approximation — drawn
    by inverse-CDF over a salted u32 hash against the PRECOMPUTED
    integer thresholds _POISSON1_CDF_U32 (multiplicity capped at 7;
    P(>7) < 1e-5), so every multiplicity is reproducible and
    cross-engine exact.

    All-integer: replicate means are sum(m·x)·1000 div sum(m);
    the interval is rank-based — lo = the (B div 10)-th smallest
    replicate mean, hi = the (B − B div 10 + 1)-th — no float
    percentile interpolation anywhere.

    Scale: one explode (docs × B) into a B-group map-side-combinable
    aggregate; the final rank runs over B rows (a single tiny
    partition).  At 100 TB bootstrap a weighted_sample of the corpus,
    not the corpus.  Output: ONE row (n_docs, b_reps, mean_milli,
    lo_milli, hi_milli)."""
    if not 10 <= b_reps <= 1024:
        raise ValueError("bootstrap_ci: b_reps in [10, 1024]")
    x = F.col(value_col).cast("long")
    rep = docs.select(
        x.alias("x"),
        F.col("doc_id").cast("string").alias("_id"),
        F.explode(F.sequence(F.lit(0), F.lit(b_reps - 1))).alias("b"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt + ":"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("_id"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    m = sum(
        (u >= F.lit(t)).cast("long") for t in _POISSON1_CDF_U32
    )
    per = (
        rep.select("b", "x", m.alias("m"))
        .groupBy("b")
        .agg(
            F.sum("m").alias("n_b"),
            F.sum(F.col("m") * F.col("x")).alias("s_b"),
        )
        .filter(F.col("n_b") > 0)
        .select("b", F.expr("s_b * 1000 div n_b").alias("mean_b"))
    )
    w = Window.orderBy("mean_b", "b")
    ranked = per.withColumn("rk", F.row_number().over(w))
    lo_rk = max(1, b_reps // 10)
    hi_rk = b_reps - b_reps // 10 + 1
    bounds = ranked.agg(
        F.count(F.lit(1)).alias("_b_eff"),
        F.max(F.when(F.col("rk") == lo_rk, F.col("mean_b"))).alias(
            "lo_milli"
        ),
        F.max(F.when(F.col("rk") == hi_rk, F.col("mean_b"))).alias(
            "hi_milli"
        ),
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(x).alias("_sx"),
    )
    return base.crossJoin(F.broadcast(bounds)).select(
        "n_docs",
        F.lit(b_reps).cast("long").alias("b_reps"),
        F.expr("_sx * 1000 div n_docs").alias("mean_milli"),
        "lo_milli",
        "hi_milli",
    )


def rich_club(
    edges: DataFrame, ks: tuple[int, ...] = (5, 6, 8)
) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) at each
    degree cutoff k: do high-degree nodes preferentially link to EACH
    OTHER (hub cliques — mirror farms, navigation rings) or only
    downward?  Complements degree_assortativity (a single global
    correlation) with the per-stratum density curve (Zhou & Mondragón,
    IEEE Comm. Lett. 2004).

    All-integer: phi_milli = E_k·2000 div (N_k·(N_k−1)); N_k < 2
    reports 0 (empty club).  Undirected simple graph: edges dedup to
    (lo, hi), degree counts both endpoints.

    Scale: degree table via one exploded groupBy; edges pick up both
    endpoint degrees through two joins on the node key; the k levels
    ride a 3-row broadcast cross join (conditional-sum unpivot — the
    vocab_growth pattern), so the edge stream is scanned once.
    Output: (k, n_nodes, n_edges, phi_milli) per cutoff."""
    if not ks or any(k < 0 for k in ks):
        raise ValueError("rich_club: ks must be non-negative")
    und = (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    kdf = F.broadcast(
        und.sparkSession.createDataFrame(
            [(int(k),) for k in sorted(ks)], "k long"
        )
    )
    nodes_k = (
        deg.crossJoin(kdf)
        .groupBy("k")
        .agg(
            F.sum((F.col("deg") > F.col("k")).cast("long")).alias(
                "n_nodes"
            )
        )
    )
    ed = (
        und.join(
            deg.select(F.col("node").alias("lo"), F.col("deg").alias("dlo")),
            "lo",
        )
        .join(
            deg.select(F.col("node").alias("hi"), F.col("deg").alias("dhi")),
            "hi",
        )
        .crossJoin(kdf)
        .groupBy("k")
        .agg(
            F.sum(
                (
                    (F.col("dlo") > F.col("k"))
                    & (F.col("dhi") > F.col("k"))
                ).cast("long")
            ).alias("n_edges")
        )
    )
    return (
        nodes_k.join(ed, "k")
        .select(
            "k",
            "n_nodes",
            "n_edges",
            F.expr(
                "CASE WHEN n_nodes >= 2 THEN n_edges * 2000"
                " div (n_nodes * (n_nodes - 1)) ELSE 0L END"
            ).alias("phi_milli"),
        )
    )


def bloom_eval(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    n_hashes: int = 3,
    n_bits: int = 4096,
) -> DataFrame:
    """Calibration row for bloom_decontaminate (the eval-family pattern:
    lsh_eval / simhash_eval / weighted_sample_eval): measures the
    filter's ACTUAL false-positive rate on this corpus's distinct
    shingle universe, plus the bitmap fill ratio that predicts it
    (FPR ≈ fill^n_hashes).

    Shares the SHIPPED bit path — _bloom_bitmap and the _cms_cells hash
    family — so a drifted hash or bitmap layout moves this row, not
    just the per-doc counts.  Bloom filters have NO false negatives,
    so n_pos ⊇ members and n_fp = n_pos − n_members exactly;
    fpr_micro = n_fp·10⁶ div (n_probe − n_members) over the true
    non-members probed (0 when every probe is a member).

    Scale: bitmap and exact set broadcast (both bench-bounded); the
    corpus side is one distinct over the shingle stream.  Output: ONE
    row (n_probe, n_members, n_pos, n_fp, fpr_micro, fill_milli)."""
    bench_sh = shingles(bench, n=n).select("shingle")
    bloom = _bloom_bitmap(bench_sh, n_hashes, n_bits)
    exact = bench_sh.distinct().withColumnRenamed("shingle", "g")
    probes = (
        shingles(docs, n=n, dedup=False)
        .select(F.col("shingle").alias("g"))
        .distinct()
    )
    pos = (
        probes.select(
            "g", F.explode(_cms_cells(n_hashes, n_bits)).alias("c")
        )
        .select("g", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .join(F.broadcast(bloom), ["row", "col"])
        .groupBy("g")
        .agg(F.countDistinct("row").alias("nh"))
        .filter(F.col("nh") == n_hashes)
    )
    a = probes.agg(F.count(F.lit(1)).alias("n_probe"))
    m = probes.join(F.broadcast(exact), "g", "leftsemi").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    p = pos.agg(F.count(F.lit(1)).alias("n_pos"))
    fill = bloom.agg(F.count(F.lit(1)).alias("_n_set"))
    return (
        a.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(p))
        .crossJoin(F.broadcast(fill))
        .select(
            "n_probe",
            "n_members",
            "n_pos",
            (F.col("n_pos") - F.col("n_members")).alias("n_fp"),
            F.expr(
                "CASE WHEN n_probe > n_members THEN"
                " (n_pos - n_members) * 1000000"
                " div (n_probe - n_members) ELSE 0L END"
            ).alias("fpr_micro"),
            F.expr(
                f"_n_set * 1000 div {n_hashes * n_bits}L"
            ).alias("fill_milli"),
        )
    )


def neyman_allocation(
    docs: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "lang",
    total_n: int = 100,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: given a budget of
    total_n draws, allocate to each stratum ∝ N_h·σ_h (big AND noisy
    strata earn more samples — the design that minimizes the variance
    of the stratified mean; Neyman 1934).  The design card that turns
    length_percentiles/stratified_sample from "how to draw" into "how
    MANY to draw".

    All-integer: N_h·σ_h = sqrt(N_h·(N_h·Q_h − S_h²)/(N_h−1)) with
    S = Σx, Q = Σx², computed as _isqrt of the div-floored radicand
    (deterministic both engines; the inner div loses < 1 ulp of the
    weight, documented).  Degenerate strata (N_h < 2, or constant
    values) weigh 0.  alloc = total_n·w div Σw truncates, so
    Σalloc ≤ total_n — the remainder is the caller's largest-remainder
    pass (the temperature_mix convention).  Per-row raise guard: the
    radicand must stay below 2⁵² for the float-sqrt ±1 bound — shard
    the stratum stats and merge (S, Q are additive) past that.

    Scale: one map-side-combinable per-stratum aggregate + a one-row
    broadcast total.  Output: (group, n_docs, weight, alloc)."""
    x = F.col(value_col).cast("long")
    agg = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("q"),
    )
    v_raw = F.expr("(n_docs * (n_docs * q - s * s)) div (n_docs - 1)")
    v = F.when(F.col("n_docs") < 2, F.lit(0)).otherwise(
        F.when(
            v_raw <= F.lit(2**52),
            v_raw,
        ).otherwise(
            F.raise_error(
                F.lit(
                    "neyman_allocation: radicand > 2^52 — shard stratum"
                    " stats and merge (S, Q additive)"
                )
            ).cast("long")
        )
    )
    weighted = agg.withColumn("weight", _isqrt(v))
    total = weighted.agg(F.sum("weight").alias("total_w"))
    return weighted.crossJoin(F.broadcast(total)).select(
        "grp",
        "n_docs",
        "weight",
        F.expr(
            f"CASE WHEN total_w > 0 THEN {total_n} * weight div total_w"
            " ELSE 0L END"
        ).alias("alloc"),
    )


def lang_source_mi(docs: DataFrame) -> DataFrame:
    """Mutual information between language and source (plus both
    marginal entropies) — the categorical-association card: MI ≈ 0
    means sources are language-agnostic mirrors; MI ≈ H(lang) means
    source determines language (each source is monolingual).  The
    corpus-level complement of lang_entropy_by_source's per-source
    view and chi2_terms' per-term view.

    Cross-engine exactness (the bm25_batch recipe): each (lang,
    source) cell contributes floor((c/n)·ln(c·n/(r·s))·1e6) micro-nats
    with c·n and r·s formed as INTEGERS before the one ln of their
    ratio — the float tree is identical on both engines and flooring
    BEFORE the sum kills aggregation-order sensitivity.  Cell terms
    can be negative (c·n < r·s); floor of a negative double is
    engine-identical.  Marginal entropies use the same per-cell
    pattern.

    Scale: one (lang, source) count + two broadcast margin tables +
    single-row aggregates; no corpus-wide joins.  Output: ONE row
    (n_docs, n_langs, n_sources, h_lang_micro, h_source_micro,
    mi_micro)."""
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    lm = cells.groupBy("lang").agg(F.sum("c").alias("r"))
    sm = cells.groupBy("source").agg(F.sum("c").alias("s"))
    nn = cells.agg(F.sum("c").alias("n"))
    term = (
        "CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(c * n AS DOUBLE) / CAST(r * s AS DOUBLE))"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
    )
    mi = (
        cells.join(F.broadcast(lm), "lang")
        .join(F.broadcast(sm), "source")
        .crossJoin(F.broadcast(nn))
        .select(F.expr(term).alias("t"))
        .agg(F.sum("t").alias("mi_micro"))
    )
    hterm = (
        "CAST(floor((CAST(m AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(n AS DOUBLE) / CAST(m AS DOUBLE))"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
    )
    hl = (
        lm.select(F.col("r").alias("m")).crossJoin(F.broadcast(nn))
        .select(F.expr(hterm).alias("t"))
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.sum("t").alias("h_lang_micro"),
        )
    )
    hs = (
        sm.select(F.col("s").alias("m")).crossJoin(F.broadcast(nn))
        .select(F.expr(hterm).alias("t"))
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("t").alias("h_source_micro"),
        )
    )
    return (
        nn.select(F.col("n").alias("n_docs"))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(mi))
        .select(
            "n_docs", "n_langs", "n_sources",
            "h_lang_micro", "h_source_micro", "mi_micro",
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity decomposition of a node labeling over
    the undirected simple graph — the eval row for label_propagation
    (the lsh_eval rule: score the SHIPPED community detector, in-engine,
    against the standard quality objective rather than trusting the
    planted fixture).

    Newman modularity Q = sum_c [ e_c/m - (d_c/(2m))^2 ] where m is the
    undirected edge count, e_c the intra-community edge count and d_c
    the community degree sum.  Reported EXACTLY as integers: per
    community q_num = 4*m*e_c - d_c^2 with the shared denominator
    4*m^2, so Q = sum(q_num) / (4*m^2) — no division, no float, no
    aggregation-order sensitivity (the pagerank all-integer rule).
    q_num is signed: a community holding less than its degree-expected
    edge share contributes negatively.

    Bounds (per-row raise, the latest_snapshot convention): d_c < 2^31
    keeps d_c^2 < 2^62; m < 2^30 keeps 4*m*e_c < 2^62 (e_c <= m).
    Labels missing for a graph node are an ERROR (inner join would
    silently drop their degree mass and misreport every q_num) — the
    join is left + null-label raise.

    Scale: one canonical-edge distinct, one map-side-combinable degree
    groupBy, two equi-joins of the edge table against the (node, label)
    table (uniform keys), per-label aggregates; m rides as a one-row
    broadcast crossJoin (the label_communities `n` convention).  Output
    one row per community: (label, n_nodes, intra_edges, deg_sum,
    m_edges, q_num)."""
    und = _und_edges(edges).localCheckpoint()
    mm = und.agg(F.count(F.lit(1)).alias("m_edges"))
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    lab = labels.select("node", "label")
    nl = deg.join(lab, "node", "left").select(
        "deg",
        F.when(
            F.col("label").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("modularity: unlabeled graph node "),
                    F.col("node").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("label")).alias("label"),
    )
    dsum = nl.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("deg").alias("deg_sum"),
    )
    intra = (
        und.join(
            lab.select(F.col("node").alias("lo"), F.col("label").alias("la")),
            "lo",
        )
        .join(
            lab.select(F.col("node").alias("hi"), F.col("label").alias("lb")),
            "hi",
        )
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    bound_ok = (F.col("deg_sum") < F.lit(1 << 31)) & (
        F.col("m_edges") < F.lit(1 << 30)
    )
    return (
        dsum.join(intra, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "label",
            "n_nodes",
            F.coalesce("ic", F.lit(0)).cast("long").alias("intra_edges"),
            "deg_sum",
            "m_edges",
            F.when(
                ~bound_ok,
                F.raise_error(
                    F.concat(
                        F.lit("modularity: packing bounds violated at "),
                        F.col("deg_sum").cast("string"),
                    )
                ).cast("long"),
            )
            .otherwise(
                F.lit(4) * F.col("m_edges")
                * F.coalesce("ic", F.lit(0))
                - F.col("deg_sum") * F.col("deg_sum")
            )
            .alias("q_num"),
        )
    )


RAKE_STOPWORDS: tuple[str, ...] = ("the", "a", "is", "of", "and", "to", "in")
"""RAKE phrase delimiters — function words that split candidate phrases.
Shared with the SQL oracle as literals (ONE set of strings, the QF_*
convention)."""


def rake_keywords(
    docs: DataFrame,
    k: int = 50,
    max_len: int = 6,
    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal runs of non-stopword tokens; each word scores
    deg(w)/freq(w) (deg = sum of host-phrase lengths over the word's
    occurrences, freq = its occurrence count among candidates) and a
    phrase scores the sum of its member word scores — the
    multi-word-keyphrase complement to textrank_keywords (which ranks
    single tokens) and tfidf_top_terms (which needs a query document).

    Integer convention: wscore_milli = deg*1000 div freq (non-negative,
    so Spark div == DuckDB //); phrase score = SUM of member
    wscore_milli — integer sums are order-free, so the ranking is
    cross-engine exact.  Runs longer than `max_len` are discarded as
    candidates BEFORE scoring (implementation cap — RAKE's original
    stoplist-only segmentation produces unbounded runs on stopword-poor
    text; documented deviation, mirrored by the oracle).  Identical
    phrase strings are one keyphrase TYPE: same token multiset => same
    score, so the type-level groupBy takes max(score) == every score.

    Top-k: (score_milli DESC, phrase ASC) orderBy().limit(k) —
    TakeOrderedAndProject with rk derived over the k survivors (the
    top_suppliers convention).

    Scale: one per-doc row_number window (gaps-and-islands run
    grouping), one per-(doc, run) count window, one map-side-combinable
    word-stats groupBy, a broadcast-size word-score join (vocabulary
    rows), one phrase groupBy.  The phrase-string assembly
    (sort_array + transform over a <= max_len array) is row-level over
    tiny arrays — the gopher_rules precedent, never an exploded-stream
    lambda."""
    toks = (
        _gram_stream(docs, 1, with_pos=True)
        .select("doc_id", "pos", F.col("g").alias("tok"))
        .filter(F.col("tok") != "")
    )
    cand = toks.filter(~F.col("tok").isin(*stopwords))
    wrn = Window.partitionBy("doc_id").orderBy("pos")
    runs = cand.select(
        "doc_id",
        "pos",
        "tok",
        (F.col("pos") - F.row_number().over(wrn)).alias("grp"),
    )
    wlen = Window.partitionBy("doc_id", "grp")
    member = runs.select(
        "doc_id",
        "grp",
        "pos",
        "tok",
        F.count(F.lit(1)).over(wlen).alias("n_words"),
    ).filter(F.col("n_words") <= max_len)
    wstats = member.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("n_words").alias("deg"),
    )
    wscore = wstats.select(
        "tok",
        F.expr("deg * 1000 div freq").alias("wscore_milli"),
    )
    phrases = (
        member.join(F.broadcast(wscore), "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.max("n_words").alias("n_words"),
            F.sum("wscore_milli").alias("score_milli"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
        )
    )
    types = phrases.groupBy("phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max("score_milli").alias("score_milli"),
    )
    top = types.orderBy(F.col("score_milli").desc(), "phrase").limit(k)
    w = Window.orderBy(F.col("score_milli").desc(), "phrase")
    return top.select(
        "phrase",
        "n_words",
        "n_occurrences",
        "score_milli",
        F.row_number().over(w).cast("long").alias("rk"),
    )


def permuterm_rotations(docs: DataFrame) -> DataFrame:
    """Permuterm index (Garfield 1976, the classic wildcard-query
    structure): every rotation of term||'$' keyed back to the term and
    its document frequency — a `pre*suf` wildcard becomes ONE prefix
    probe for `suf$pre` against this table, which at scale is a sorted
    /bucketed range scan instead of a full-vocabulary regex pass.

    Rotations are generated with codegen'd substring arithmetic over an
    exploded integer sequence (len+1 rows per term) — no higher-order
    lambda (the r3 transform lesson).  The '$' terminator must not
    occur inside a term: per-row raise guard (the packed-key rule —
    a '$'-bearing term would alias another term's rotation set).

    Scale: the index is vocabulary-sized (types, not tokens) times
    average term length — tiny next to the corpus; df comes from one
    map-side-combinable distinct+groupBy."""
    vdf = (
        _gram_stream(docs, 1)
        .filter(F.col("g") != "")
        .select("doc_id", F.col("g").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    guarded = vdf.select(
        F.when(
            F.col("term").contains("$"),
            F.raise_error(
                F.concat(
                    F.lit("permuterm: '$' inside term "), F.col("term")
                )
            ),
        ).otherwise(F.col("term")).alias("term"),
        "df",
    )
    w = F.concat(F.col("term"), F.lit("$"))
    return (
        guarded.select(
            "term",
            "df",
            F.expr("explode(sequence(0, length(term)))").alias("i"),
        )
        .select(
            "term",
            "df",
            F.concat(
                F.substring(w, F.col("i") + 1, F.length(w) - F.col("i")),
                F.substring(w, F.lit(1), F.col("i")),
            ).alias("rot"),
        )
    )


def wildcard_search(
    docs: DataFrame, patterns: tuple[str, ...]
) -> DataFrame:
    """Wildcard term lookup over the permuterm index: each `pre*suf`
    pattern (exactly one '*') rotates to the probe key `suf$pre`; a
    term matches iff one of its rotations starts with the key — exact
    permuterm semantics, no regex engine on either side.

    The patterns are parsed driver-side into literal (pattern, key)
    pairs riding in as a broadcast literal array (the hyperplane
    convention — the resulting BroadcastNestedLoopJoin over a
    vocabulary-sized table with a handful of keys is the documented
    benign cross shape; a production-scale variant turns the
    startswith into a range scan on the sorted rotation index).

    Output: (pattern, term, df) — one row per matching term (each key
    can match at most one rotation of a term, so no distinct needed)."""
    rows = []
    for p in patterns:
        if p.count("*") != 1:
            raise ValueError(f"wildcard_search: exactly one '*' in {p!r}")
        pre, suf = p.split("*")
        rows.append((p, f"{suf}${pre}"))
    pats = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("pattern"), F.lit(k).alias("key")
                )
                for p, k in rows
            ]
        )
    ).alias("pk")
    rot = permuterm_rotations(docs)
    pdf = rot.sparkSession.range(1).select(pats).select(
        "pk.pattern", "pk.key"
    )
    return (
        rot.join(
            F.broadcast(pdf), F.expr("startswith(rot, key)"), "inner"
        )
        .select("pattern", "term", "df")
    )


def ks_two_sample(
    docs: DataFrame,
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the token-length
    distributions of two document groups — the distribution-shift
    alarm for ingest QA (is source B suddenly producing shorter docs
    than source A?), and on same-generator groups an A/A calibration
    row (the ab_null_check pattern: the plumbing should NOT reject).

    Exact integer arithmetic: at every observed length x,
    F1(x) - F2(x) = (n2*cum1(x) - n1*cum2(x)) / (n1*n2), so
    d_num = max|n2*cum1 - n1*cum2| is the exact KS numerator with
    denominator n1*n2 (no float, no sup-over-reals subtlety — the
    empirical CDF difference only changes at observed values).
    reject_95 applies the large-sample critical value
    c(0.05) = 1.358 = 1358/1000 via cross-multiplied squares:
    reject iff 10^6 * d_num^2 > 1358^2 * (n1+n2) * n1 * n2.  Overflow
    bound: the RHS stays under 2^63 for n1+n2 <= ~27,000 — enforced
    with a raise (the latest_snapshot convention); beyond that a real
    deployment subsamples per group first (KS power saturates long
    before 10^4 samples anyway).

    Scale: one groupBy on length (the distinct-length histogram —
    hundreds of rows), cumulative sums over that HISTOGRAM via a
    single-partition window (the length_percentiles convention: global
    windows over histogram-sized tables, never over the corpus), one
    final max aggregate."""
    val = F.size(F.split(F.col("text"), " ")).alias("x")
    g = F.col(group_col)
    s = docs.filter(g.isin(group_a, group_b)).select(
        val, (g == group_a).cast("long").alias("is_a")
    )
    hist = s.groupBy("x").agg(
        F.sum("is_a").alias("c1"),
        F.sum(F.lit(1) - F.col("is_a")).alias("c2"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    tot = cum.agg(
        F.max("cum1").alias("n1"),
        F.max("cum2").alias("n2"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            F.abs(
                F.col("n2") * F.col("cum1") - F.col("n1") * F.col("cum2")
            ).alias("diff"),
        )
        .groupBy("n1", "n2")
        .agg(F.max("diff").alias("d_num"))
    )
    guard = F.when(
        F.col("n1") + F.col("n2") > F.lit(27000),
        F.raise_error(
            F.lit("ks_two_sample: exact verdict bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    return d.select(
        "n1",
        "n2",
        "d_num",
        F.expr("d_num * 1000 div (n1 * n2)").alias("d_milli"),
        (
            guard
            + (
                F.lit(1000000) * F.col("d_num") * F.col("d_num")
                > F.lit(1358 * 1358)
                * (F.col("n1") + F.col("n2"))
                * F.col("n1")
                * F.col("n2")
            ).cast("long")
        ).alias("reject_95"),
    )


def ams_f2(docs: DataFrame, k: int = 16) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon–Matias–Szegedy 1996)
    scored against the exact F2 = sum_t c_t^2 of the unigram stream —
    the eval row for the sketch family's tug-of-war member (F2 is the
    self-join size / skew indicator a shuffle planner wants cheaply).

    Estimator j: X_j = (sum_t s_j(t) * c_t)^2 with the +/-1 sign drawn
    from md5(j:tok)'s first hex digit (< '8' => +1 — a plain STRING
    compare, identical ASCII order in both engines, no conv()).
    est_f2 = mean of the k estimators (integer div).  E[X_j] = F2
    exactly (4-wise independence is approximated by md5, which is the
    point of measuring rather than trusting).

    All-integer: the signed sums are integers, squares and the mean
    stay in BIGINT; per-row raise guard |S_j| < 3*10^9 before squaring
    (the packing-bound rule — a 10^10-token stream would silently
    overflow the square otherwise; at that scale you shard the stream
    and merge sketch sums, which ARE mergeable by addition).

    Scale: ONE map-side-combinable groupBy(tok) then a single
    aggregate computing exact F2, the stream totals and all k signed
    sums together — md5 runs per TYPE, not per occurrence."""
    types = (
        _gram_stream(docs, 1)
        .filter(F.col("g") != "")
        .groupBy(F.col("g").alias("tok"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sign = lambda j: F.expr(
        f"IF(substring(md5(concat('{j}:', tok)), 1, 1) < '8', 1, -1)"
    )
    aggs = [
        F.sum(F.col("c")).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("f2_exact"),
        *[
            F.sum(sign(j) * F.col("c")).alias(f"s{j}")
            for j in range(k)
        ],
    ]
    one = types.agg(*aggs)
    guard = [
        F.when(
            F.abs(F.col(f"s{j}")) >= F.lit(3_000_000_000),
            F.raise_error(
                F.lit("ams_f2: signed sum bound exceeded, shard the stream")
            ).cast("long"),
        )
        .otherwise(F.col(f"s{j}") * F.col(f"s{j}"))
        .alias(f"x{j}")
        for j in range(k)
    ]
    sq = one.select("n_tokens", "n_types", "f2_exact", *guard)
    est = sq.select(
        "n_tokens",
        "n_types",
        "f2_exact",
        F.expr(
            "(" + " + ".join(f"x{j}" for j in range(k)) + f") div {k}"
        ).alias("est_f2"),
    )
    return est.select(
        "n_tokens",
        "n_types",
        "f2_exact",
        "est_f2",
        F.expr("est_f2 * 1000 div f2_exact").alias("ratio_milli"),
    )


def kwic_concordance(
    docs: DataFrame, term: str, window: int = 3
) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of `term` with
    its `window` tokens of left and right context — the corpus
    inspection tool behind lexicography/QA review queues (why is this
    token surviving the quality filter?) and the human-readable face of
    positional_index.

    Plan: posexplode finds the hit positions (pre-shuffle filter on the
    term), then ONE equi-join back to the doc's word array on doc_id
    (uniform key, hits-sized left side) and row-level F.slice windows —
    contexts never explode into their own stream.  1-based slice
    bounds: left = [max(1, pos-w+1) .. pos], right = [pos+2 .. pos+w+1]
    with slice's natural clamping at both ends."""
    words = F.split(F.col("text"), " ")
    hits = (
        docs.select(
            "doc_id", F.posexplode(words).alias("pos", "tok")
        )
        .filter(F.col("tok") == term)
        .select("doc_id", "pos")
    )
    arr = docs.select("doc_id", words.alias("w"))
    s = F.greatest(F.col("pos") - window + 1, F.lit(1))
    return (
        hits.join(arr, "doc_id")
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.array_join(
                F.slice(F.col("w"), s, F.col("pos") + 1 - s), " "
            ).alias("left_ctx"),
            F.lit(term).alias("term"),
            F.array_join(
                F.slice(F.col("w"), F.col("pos") + 2, window), " "
            ).alias("right_ctx"),
        )
    )


def kmeans_inertia(
    emb: DataFrame, k: int = 8, iters: int = 2, q: int | None = None
) -> DataFrame:
    """Per-cluster inertia scorecard for the SHIPPED kmeans_clusters
    assignment (the lsh_eval rule) — within-cluster sum of squares via
    the Huygens decomposition, evaluated against the assignment's own
    cluster MEANS (the SS-minimizing centers, so the score reflects the
    partition itself, not the trainer's last centroid snapshot).

    Integer exactness: sum_{i in c} ||x_i - mean_c||^2
    = sum ||x_i||^2 - (sum_d s_{c,d}^2) / n_c with s the per-cluster
    per-dimension component sums — everything integer except ONE
    non-negative floor division per cluster (div == //; truncation
    < 1 quant-unit^2, deterministic).  Same clamped-integer space the
    trainer saw (_quant_dims is shared).  cohesion_milli =
    pull * 1000 div max(ss_point, 1) — higher = tighter cluster.

    Bounds: per-row raise when |s_cd| >= 3*10^9 before squaring (the
    ams_f2 rule — holds for n_c < ~7*10^5 at q=4096; sample the corpus
    first above that, as the trainer already requires).

    Scale: one (cluster, d) groupBy (map-side combinable, k*ndim
    output rows) then a k-row aggregate; the assignment join is a
    uniform vec_id equi-join."""
    q = q if q is not None else PQ_Q
    ndim = _ndim(emb)
    dims = _quant_dims(emb, q, ndim)
    assigned = kmeans_clusters(emb, k=k, iters=iters, q=q)
    pc = (
        dims.join(assigned, "vec_id")
        .groupBy("cluster", "d")
        .agg(
            F.sum("val").alias("s_cd"),
            F.sum(F.col("val") * F.col("val")).alias("ss_cd"),
            F.count(F.lit(1)).alias("n_c"),
        )
    )
    sq = pc.select(
        "cluster",
        "ss_cd",
        "n_c",
        F.when(
            F.abs(F.col("s_cd")) >= F.lit(3_000_000_000),
            F.raise_error(
                F.lit("kmeans_inertia: component sum bound, sample first")
            ).cast("long"),
        )
        .otherwise(F.col("s_cd") * F.col("s_cd"))
        .alias("s2"),
    )
    cl = sq.groupBy("cluster").agg(
        F.max("n_c").alias("n_vecs"),
        F.sum("ss_cd").alias("ss_point"),
        F.sum("s2").alias("sumsq"),
    )
    return cl.select(
        "cluster",
        "n_vecs",
        "ss_point",
        F.expr("sumsq div n_vecs").alias("pull"),
        F.expr("ss_point - sumsq div n_vecs").alias("ss_within"),
        F.expr(
            "(sumsq div n_vecs) * 1000 div greatest(ss_point, 1)"
        ).alias("cohesion_milli"),
    )


def _quality_batch_means(docs: DataFrame, batch: int) -> DataFrame:
    """(source, b, mean_permille): per-(source, ingest-batch) mean
    alpha-permille — quality_drift's first stage, factored out as ONE
    aggregation over (sum, count) monoid cells so the streaming twin
    can reuse it verbatim (state bounded by sources × batches)."""
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    per = docs.select(
        "source",
        F.expr(f"doc_id div {batch}").alias("b"),
        (alpha * 1000).cast("long").alias("a"),
        (F.length("text") + 1).cast("long").alias("n"),
    )
    return per.groupBy("source", "b").agg(
        F.expr("sum(a div n) div count(1)").alias("mean_permille")
    )


def quality_drift(
    docs: DataFrame, batch: int = 100, flag_permille: int = 150
) -> DataFrame:
    """Per-source quality-drift card over ingest batches (doc_id div
    `batch` — the ingest-order proxy; swap in a crawl-date column when
    the table has one): mean alpha-permille per (source, batch), then
    the max-min spread per source with a loud `flagged` verdict above
    `flag_permille` — the monitoring row that catches a source whose
    extractor silently degraded mid-crawl.

    Integer conventions: per-doc quality = alpha_chars * 1000 div
    (len + 1) (the quality_scores alpha signal, integer twin); batch
    mean = sum div count (non-negative, div == //); drift = max - min
    of batch means.

    Scale: one (source, batch) groupBy (map-side combinable) then one
    per-source aggregate — no windows, no joins.  The first stage
    (_quality_batch_means) is a SINGLE aggregation over (sum, count)
    monoid cells, so it doubles as the Structured Streaming twin
    (streaming.stream_quality_means — chained aggregations are
    unsupported in streams, so the drift fold stays batch-side)."""
    s = _quality_batch_means(docs, batch).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.min("mean_permille").alias("min_permille"),
        F.max("mean_permille").alias("max_permille"),
    )
    return s.select(
        "source",
        "n_batches",
        "min_permille",
        "max_permille",
        (F.col("max_permille") - F.col("min_permille")).alias(
            "drift_permille"
        ),
        (
            F.col("max_permille") - F.col("min_permille")
            > F.lit(flag_permille)
        ).cast("long").alias("flagged"),
    )


def shuffle_eval(
    docs: DataFrame, n_shards: int = 16, seed: str = "epoch0"
) -> DataFrame:
    """Mixing-quality scorecard for the SHIPPED epoch_shuffle_plan (the
    lsh_eval rule): walk each shard in epoch order and count adjacent
    pairs that share a source, against the same-source probability a
    uniform random adjacent pair has (sum_s n_s(n_s-1) / N(N-1)) —
    clumped batches quietly correlate gradients with crawl hosts, and
    this row is the alarm.  clumped fires when the observed rate is
    more than 2x expectation.

    All-integer: counts, milli rates by non-negative floor division
    (div == //).  Bound: N(N-1) needs N < ~3*10^9 — per-row raise (at
    real scale you evaluate a shard sample anyway).

    Scale: epoch_shuffle_plan's one hash exchange + a per-shard lag
    window (partitioned, no global sort), one corpus groupBy(source)
    for the expectation, two one-row aggregates."""
    plan = epoch_shuffle_plan(docs, n_shards=n_shards, seed=seed)
    j = plan.join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("shard").orderBy("pos")
    adj = j.select(
        "source", F.lag("source").over(w).alias("prev")
    )
    obs = adj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("prev").isNotNull().cast("long")).alias("n_pairs"),
        F.sum(
            (F.col("prev") == F.col("source")).cast("long")
        ).alias("n_same"),
    )
    exp = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1)).alias("same_w"),
            F.sum("c").alias("nn"),
        )
    )
    return (
        obs.crossJoin(F.broadcast(exp))
        .select(
            "n_docs",
            "n_pairs",
            "n_same",
            F.expr("n_same * 1000 div greatest(n_pairs, 1)").alias(
                "same_milli"
            ),
            F.when(
                F.col("nn") >= F.lit(3_000_000_000),
                F.raise_error(
                    F.lit("shuffle_eval: N(N-1) bound, sample shards")
                ).cast("long"),
            )
            .otherwise(
                F.expr("same_w * 1000 div greatest(nn * (nn - 1), 1)")
            )
            .alias("expected_milli"),
        )
        .select(
            "*",
            (
                F.col("same_milli") > F.lit(2) * F.col("expected_milli")
            ).cast("long").alias("clumped"),
        )
    )


def dedup_agreement(
    docs: DataFrame,
    jt_num: int = 2,
    jt_den: int = 5,
) -> DataFrame:
    """Cross-method near-dup agreement card: the exact n-gram Jaccard
    pair set (jaccard_pairs at threshold jt_num/jt_den, the rational
    cross-multiplied convention) vs the SimHash pair set
    (simhash_neardup_pairs, entry defaults) over the SAME corpus — the
    meta-eval that tells a curation team how much the two dedup
    families' verdicts actually overlap before they pick one (the
    per-producer evals score each against ITS OWN truth; this row
    scores them against each other).

    Both producers are the SHIPPED ones (the lsh_eval rule).  Output:
    one row (n_jaccard, n_simhash, n_both, only_jaccard, only_simhash,
    agreement_milli = |A∩B| * 1000 div |A∪B|).

    Scale: inherits both producers' banding/caps; the comparison
    itself is one full-outer equi-join on the pair key and a one-row
    aggregate.

    r6 (guide §2.6): the two producers are independent chains — the
    SimHash side runs an eager band checkpoint at build time and the
    Jaccard side an expensive shingle self-join — so both pair sets are
    materialized from two driver threads (the lsh_eval overlap pattern);
    one chain's tasks back-fill the other's stragglers.  Results
    identical."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _build_ja():
        handle: list = []
        out = (
            jaccard_pairs(
                docs, n=3, min_intersection=2, max_shingle_freq=100,
                cache_handle=handle,
            )
            .filter(
                F.col("intersection") * F.lit(jt_den)
                >= F.lit(jt_num) * F.col("union_sz")
            )
            .select("doc_a", "doc_b", F.lit(1).alias("in_a"))
            .localCheckpoint()  # eager — shingle cache materialized into it
        )
        for df in handle:
            df.unpersist()
        return out

    def _build_sp():
        return simhash_neardup_pairs(
            docs, bits=48, n_bands=4, max_bucket_size=100
        ).select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.lit(1).alias("in_b"),
        ).localCheckpoint()

    # inheritable_thread_target: each thread's jobs keep the caller's
    # job group and tags
    spark = docs.sparkSession
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_ja = ex.submit(inheritable_thread_target(spark)(_build_ja))
        f_sp = ex.submit(inheritable_thread_target(spark)(_build_sp))
        ja, sp = f_ja.result(), f_sp.result()
    m = ja.join(sp, ["doc_a", "doc_b"], "outer").select(
        F.coalesce("in_a", F.lit(0)).alias("ia"),
        F.coalesce("in_b", F.lit(0)).alias("ib"),
    )
    # coalesce: both pair sets empty => zero rows under the aggregate,
    # and sum-over-nothing is NULL, not 0
    a = m.agg(
        F.coalesce(F.sum("ia"), F.lit(0)).alias("n_jaccard"),
        F.coalesce(F.sum("ib"), F.lit(0)).alias("n_simhash"),
        F.coalesce(F.sum(F.col("ia") * F.col("ib")), F.lit(0)).alias(
            "n_both"
        ),
    )
    return a.select(
        "n_jaccard",
        "n_simhash",
        "n_both",
        (F.col("n_jaccard") - F.col("n_both")).alias("only_jaccard"),
        (F.col("n_simhash") - F.col("n_both")).alias("only_simhash"),
        F.expr(
            "n_both * 1000 div"
            " greatest(n_jaccard + n_simhash - n_both, 1)"
        ).alias("agreement_milli"),
    )


_STYLO_B = 1 << 40
"""Offset for signed z-score means in stylometry_delta (the PQ offset-
mean trick): must bound |z_milli|, which is < 10^9 * 10^3 only in the
degenerate sigma=1 case and far smaller in practice."""


def stylometry_delta(
    docs: DataFrame, m: int = 10, group_col: str = "source"
) -> DataFrame:
    """Burrows' Delta distinctiveness per source (Burrows 2002, the
    stylometry standard): z-score each document's relative frequency of
    the corpus's top-`m` tokens (the 'function word' features —
    frequency-ranked, content-free), average the z profile per source,
    and report delta_milli = mean |profile z| — how far a source's
    style sits from the corpus centroid.  The authorship/provenance
    audit companion to lang_source_mi (which sees only the lang label;
    this sees usage RATES of the commonest words).

    Integer conventions (three of the established recipes composed): relative
    frequencies in micro-units (cnt * 10^6 div len); sigma by the exact
    _isqrt of the floor-div variance; z_milli with the SIGN PEELED
    (sign(dev) * (|dev| * 1000 div max(sigma, 1)) — the zipf_fit rule);
    per-source signed means by the +B offset trick (B = 2^40 bounds
    |z|); final delta = sum|profile| div m.  Zero-count (doc, feature)
    cells are REAL rows (a doc that never says 'the' is stylometric
    signal) — the doc×feature grid is a broadcast crossJoin of the
    m-row feature table, never a corpus×corpus join.

    Scale: token groupBys are map-side combinable; the feature table
    is m rows (TakeOrderedAndProject + broadcast); grid is n_docs × m;
    everything downstream aggregates on (feature) or (source) keys."""
    toks = (
        _gram_stream(docs, 1)
        .filter(F.col("g") != "")
        .select("doc_id", F.col("g").alias("tok"))
    )
    # r6 measured anti-lesson: replacing this explode+groupBy with a
    # narrow size(array_remove(split)) projection read 2.32-2.63 s warm
    # vs 1.45-2.0 for this form (ngram control row stable across the
    # same sessions) — the "extra" explode shares the hot token-stream
    # pipeline, the narrow form adds an independent full text
    # scan+split.  Do not retry.
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    feats = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(m)
        .select("tok")
    )
    cnts = (
        toks.join(F.broadcast(feats), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = (
        lens.crossJoin(F.broadcast(feats))
        .join(cnts, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            "tok",
            F.expr(
                "coalesce(cnt, 0) * 1000000 div len"
            ).alias("f"),
        )
    )
    nn = lens.agg(F.count(F.lit(1)).alias("nd"))
    mu = (
        grid.groupBy("tok")
        .agg(F.sum("f").alias("sf"))
        .crossJoin(F.broadcast(nn))
        .select("tok", F.expr("sf div nd").alias("mu"), "nd")
    )
    dev = grid.join(F.broadcast(mu), "tok").select(
        "doc_id", "tok", (F.col("f") - F.col("mu")).alias("dev"), "nd"
    )
    sig = (
        dev.groupBy("tok")
        .agg(
            F.sum(F.col("dev") * F.col("dev")).alias("sq"),
            F.max("nd").alias("nd"),
        )
        .select("tok", _isqrt(F.expr("sq div nd")).alias("sigma"))
    )
    z = dev.join(F.broadcast(sig), "tok").select(
        "doc_id",
        "tok",
        (
            F.signum("dev").cast("long")
            * F.expr("abs(dev) * 1000 div greatest(sigma, 1)")
        ).alias("z"),
    )
    src = docs.select("doc_id", F.col(group_col).alias("grp"))
    prof = (
        z.join(src, "doc_id")
        .groupBy("grp", "tok")
        .agg(
            F.expr(
                f"(sum(z) + {_STYLO_B} * count(1)) div count(1)"
                f" - {_STYLO_B}"
            ).alias("p"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return (
        prof.groupBy("grp")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.expr(f"sum(abs(p)) div {m}").alias("delta_milli"),
        )
        .select(F.col("grp").alias(group_col), "n_docs", "delta_milli")
    )


def chao1_richness(docs: DataFrame, n: int = 3) -> DataFrame:
    """Chao1 species-richness estimate of the n-gram vocabulary per
    language (Chao 1984, the abundance-based lower bound every corpus
    ecology uses): chao1 = S + f1^2/(2 f2), with the bias-corrected
    f1(f1-1)/2 form when f2 = 0 — 'how many n-gram types does this
    language REALLY have, counting the ones we haven't crawled yet'.
    The forward-looking companion to good_turing (which discounts seen
    counts) and vocab_growth (which tracks the seen curve).  Run over
    trigrams by default — the good_turing lesson: this corpus's
    UNIGRAM counts have no singletons (f1 = f2 = 0 makes the row
    vacuous), its trigram stream has plenty.

    All-integer: S, f1, f2 are counts; both correction forms are one
    non-negative floor division (div == //); per-row raise at
    f1 >= 3*10^9 before squaring (the ams_f2 bound rule).

    Scale: one (lang, gram) groupBy then one |langs|-row aggregate —
    both map-side combinable."""
    ty = (
        _gram_stream(docs, n, carry=("lang",))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = ty.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"),
    )
    guarded = agg.select(
        "lang",
        "n_types",
        F.when(
            F.col("f1") >= F.lit(3_000_000_000),
            F.raise_error(
                F.lit("chao1_richness: f1 bound, shard the stream")
            ).cast("long"),
        ).otherwise(F.col("f1")).alias("f1"),
        "f2",
    )
    return guarded.select(
        "lang",
        "n_types",
        "f1",
        "f2",
        F.expr(
            "n_types + CASE WHEN f2 > 0 THEN f1 * f1 div (2 * f2)"
            " ELSE f1 * (f1 - 1) div 2 END"
        ).alias("chao1"),
    )


def simpson_diversity(
    docs: DataFrame, group_col: str = "source", item_col: str = "lang"
) -> DataFrame:
    """Simpson concentration per group (Simpson 1949; 1-λ is the
    classic diversity index, λ itself is the Herfindahl of ecology):
    λ = sum_i n_i(n_i-1) / (N(N-1)) — the probability two documents
    drawn from the group WITHOUT replacement share a language.  The
    exact-rational companion to lang_entropy_by_source (whose ln is
    micro-quantized): this one needs NO transcendental at all.

    lambda_micro = sum n(n-1) * 10^6 div (N(N-1)) — all integer,
    non-negative (div == //); N(N-1) bound raise at N >= 3*10^9 (the
    shuffle_eval rule).

    Scale: one (group, item) count + one per-group aggregate, both
    map-side combinable."""
    cells = docs.groupBy(group_col, item_col).agg(
        F.count(F.lit(1)).alias("c")
    )
    g = cells.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("c").alias("n_docs"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("pair_w"),
    )
    return g.select(
        group_col,
        "n_items",
        "n_docs",
        F.when(
            F.col("n_docs") >= F.lit(3_000_000_000),
            F.raise_error(
                F.lit("simpson_diversity: N(N-1) bound, sample the group")
            ).cast("long"),
        )
        .otherwise(
            F.expr(
                "pair_w * 1000000"
                " div greatest(n_docs * (n_docs - 1), 1)"
            )
        )
        .alias("lambda_micro"),
    )


def hill_tail_index(
    counts: DataFrame,
    value_col: str = "x",
    k: int = 50,
) -> DataFrame:
    """Hill (1975) tail-index estimate over a count distribution:
    alpha^-1 = (1/k) * sum_{i=1..k} ln(x_(i) / x_(k+1)) using the top
    k order statistics against the (k+1)-th as threshold — the
    heavy-tail exponent of user activity / host size / degree
    distributions, complementing zipf_fit (which fits ALL ranks; Hill
    looks only at the tail, where power-law behavior actually lives).

    Cross-engine exactness: each per-item term is floored to
    micro-nats BEFORE the sum (the unigram_surprisal recipe — integer
    sums are order-free; ln's own 1-ulp wiggle at floor boundaries is
    the documented residual risk), with the identical float tree
    ln(CAST(x AS DOUBLE) / x_thr) on both engines.
    alpha_milli = k * 10^9 div max(s_micro, 1).

    Scale: one TakeOrderedAndProject top-(k+1) over the counts table
    (already aggregate-sized), one one-row aggregate."""
    top = (
        counts.select(F.col(value_col).cast("long").alias("x"))
        .orderBy(F.col("x").desc())
        .limit(k + 1)
    )
    thr = top.agg(F.min("x").alias("x_thr"))
    s = (
        top.crossJoin(F.broadcast(thr))
        .filter(F.col("x") > F.col("x_thr"))
        .select(
            "x_thr",
            F.expr(
                "CAST(floor(ln(CAST(x AS DOUBLE) / CAST(x_thr AS DOUBLE))"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
            ).alias("t"),
        )
        .groupBy("x_thr")
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.sum("t").alias("s_micro"),
        )
    )
    return s.select(
        "x_thr",
        "k_used",
        "s_micro",
        F.expr(
            "k_used * 1000000000 div greatest(s_micro, 1)"
        ).alias("alpha_milli"),
    )


def packing_eval(
    docs: DataFrame, capacity: int = 256, n_groups: int = 32
) -> DataFrame:
    """One-row scorecard of the SHIPPED pack_sequences output (the
    lsh_eval rule: evals score shipped code in-engine, never a
    reimplementation): how full are the training bins, and how many
    extra bins does the streaming first-fit approximation cost over
    the per-stream bound ceil(stream_tokens / capacity)?

    Columns: n_docs, n_bins, total_tokens, lb_bins (sum of per-stream
    ceil bounds — bins never span streams, so the bound is per
    stream, not global), bin_delta = n_bins - lb_bins (NON-POSITIVE
    by construction for this packer: a straddling doc overfills its
    bin rather than opening a new one, so distinct bins never exceed
    the ceil bound — the magnitude measures how much straddle
    overflow is landing in bins), fill_milli = total_tokens*1000 div
    (n_bins*capacity), and max_bin_tokens (a bin exceeds capacity by
    at most one doc's tokens — the documented pack_sequences
    semantics; feed max_bin_tokens into the training-side max-length
    budget).

    Scale: rides pack_sequences' plan (n_groups-bounded windows),
    then two map-side-combinable groupBys collapsing to n_groups rows
    and one final one-row aggregate."""
    packed = pack_sequences(docs, capacity=capacity, n_groups=n_groups)
    bins = packed.groupBy("pack_group", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("bin_docs"),
    )
    streams = bins.groupBy("pack_group").agg(
        F.sum("bin_docs").alias("g_docs"),
        F.count(F.lit(1)).alias("g_bins"),
        F.sum("bin_tokens").alias("g_tokens"),
        F.max("bin_tokens").alias("g_max_bin"),
    )
    return (
        streams.agg(
            F.sum("g_docs").alias("n_docs"),
            F.sum("g_bins").alias("n_bins"),
            F.sum("g_tokens").alias("total_tokens"),
            F.sum(
                F.expr(f"(g_tokens + {capacity - 1}) div {capacity}")
            ).alias("lb_bins"),
            F.max("g_max_bin").alias("max_bin_tokens"),
        )
        .select(
            "n_docs",
            "n_bins",
            "total_tokens",
            "lb_bins",
            (F.col("n_bins") - F.col("lb_bins")).alias("bin_delta"),
            F.expr(
                f"total_tokens * 1000 div (n_bins * {capacity})"
            ).alias("fill_milli"),
            "max_bin_tokens",
        )
    )


def psi_drift(
    docs: DataFrame,
    group_col: str = "source",
    width: int = 64,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index per group vs the whole corpus — the
    standard ML-monitoring drift score (PSI = sum_b (p_b - q_b) *
    ln(p_b / q_b)) over fixed-width n_chars buckets, with add-one
    smoothing so empty cells never hit ln(0).  Complements
    quality_drift (mean shifts) and ks_two_sample (one pairwise exact
    test): PSI is the per-group scorecard you'd page on.

    Cross-engine exactness (the unigram_surprisal recipe): every
    bucket term is floored to micro-units BEFORE the sum, with ONE
    identical float tree built from integers — p = (c+1)/(N_g+B),
    q = (c_ref+1)/(N+B), and the ln argument formed as the integer
    cross-ratio (c+1)(N+B) / (c_ref+1)(N_g+B).  Each term is >= 0
    mathematically ((p-q) and ln(p/q) share sign), so psi_micro >= -B
    after floors.  Verdicts use the conventional 0.10 / 0.25 bands and
    are REPORTED, never asserted (the curation_v9 A/A lesson).

    Scale: one (group, bucket) count + one bucket count + one
    n_buckets-row broadcast grid fill — no corpus sort, no pairwise
    group comparison (each group compares to the shared reference)."""
    spark = docs.sparkSession
    b = F.least(
        F.expr(f"n_chars div {width}"), F.lit(n_buckets - 1)
    ).cast("long")
    cells = docs.groupBy(group_col, b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    groups = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_g"))
    ref_cells = docs.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c_ref_raw")
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_tot"))
    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    ref = (
        buckets.join(F.broadcast(ref_cells), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.coalesce("c_ref_raw", F.lit(0)).alias("c_ref"),
            "n_tot",
        )
    )
    grid = groups.crossJoin(F.broadcast(buckets))
    filled = (
        grid.join(cells, [group_col, "bucket"], "left")
        .select(
            group_col,
            "bucket",
            "n_g",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .join(F.broadcast(ref), "bucket")
    )
    bb = n_buckets
    term = (
        f"CAST(floor((CAST((c + 1) AS DOUBLE) / CAST((n_g + {bb}) AS DOUBLE)"
        f" - CAST((c_ref + 1) AS DOUBLE) / CAST((n_tot + {bb}) AS DOUBLE))"
        f" * ln((CAST((c + 1) AS DOUBLE) * CAST((n_tot + {bb}) AS DOUBLE))"
        f" / (CAST((c_ref + 1) AS DOUBLE) * CAST((n_g + {bb}) AS DOUBLE)))"
        " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
    )
    out = (
        filled.select(group_col, "n_g", F.expr(term).alias("t"))
        .groupBy(group_col)
        .agg(
            F.max("n_g").alias("n_docs"),
            F.sum("t").alias("psi_micro"),
        )
    )
    return out.select(
        group_col,
        "n_docs",
        "psi_micro",
        F.when(F.col("psi_micro") < 100000, F.lit("stable"))
        .when(F.col("psi_micro") < 250000, F.lit("moderate"))
        .otherwise(F.lit("drifted"))
        .alias("verdict"),
    )


def lm_heldout_ppl(docs: DataFrame) -> DataFrame:
    """Held-out unigram cross-entropy per language: train add-one
    unigram counts on even doc_ids, score odd doc_ids — the
    perplexity-filtering primitive (CCNet/Gopher style quality gates
    rank corpora by LM cross-entropy; this row is the in-engine
    train/score plumbing with a unigram stand-in model, the
    hashed_linear_score convention: swap the model, keep the plan).

    p(tok) = (c_tok + 1) / (N + V + 1) with one reserved UNK slot, so
    OOV heldout tokens score ln(N+V+1).  Cross-engine exactness:
    per-TYPE term floor(ln((N+V+1)/(c+1)) * 10^6) multiplied by the
    integer heldout count AFTER the floor — integer sums are
    order-free; ce_micro = total div heldout_tokens (micro-nats per
    token; perplexity = exp(ce) is left to the caller — no second
    transcendental in the hash).

    Scale: two token aggregates + one (lang, tok) left join + one
    5-row broadcast of per-lang totals; no corpus sort, no driver
    loop."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("tok"),
    )
    train = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = train.groupBy("lang").agg(
        F.sum("c").alias("n_train"),
        F.count(F.lit(1)).alias("v"),
    )
    held = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    j = held.join(train, ["lang", "tok"], "left").select(
        "lang",
        "m",
        F.coalesce("c", F.lit(0)).alias("c"),
        F.when(F.col("c").isNull(), F.col("m"))
        .otherwise(F.lit(0))
        .alias("oov"),
    )
    terms = j.join(F.broadcast(stats), "lang").select(
        "lang",
        "m",
        "oov",
        "n_train",
        "v",
        (
            F.col("m")
            * F.expr(
                "CAST(floor(ln(CAST((n_train + v + 1) AS DOUBLE)"
                " / CAST((c + 1) AS DOUBLE))"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
            )
        ).alias("t"),
    )
    return terms.groupBy("lang").agg(
        F.max("n_train").alias("n_train_tokens"),
        F.max("v").alias("vocab"),
        F.sum("m").alias("n_heldout_tokens"),
        F.sum("oov").alias("oov_tokens"),
        F.expr("sum(t) div sum(m)").alias("ce_micro"),
    )


def rrf_fusion(
    docs: DataFrame,
    terms: list[str],
    k_sys: int = 15,
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of the two SHIPPED rankers — bm25_search and qlm_search — over the
    same query: rrf(d) = sum_systems 1/(k + rank_s(d)), the standard
    zero-training way to combine lexical and LM retrieval runs (and,
    with an embedding run swapped in, the hybrid-search default).

    Exactness: each reciprocal is the integer 10^6 div (k_rrf + rank)
    — ranks are already deterministic integers in both systems (bm25:
    round(score,4) DESC, doc_id; qlm: score_micro DESC, doc_id), so
    the fused score is an order-free integer sum; a doc missing from
    one run contributes 0 from it (COALESCE, the standard RRF
    treatment of truncated runs).  fused_rank breaks ties by doc_id.

    Scale: both inputs are top-k_sys survivor sets (<= 2*k_sys rows),
    so the full-outer join and the fused rank window are driver-tiny
    by construction — the corpus-size work happens inside the two
    rankers, which keep their own documented plans."""
    b = bm25_search(docs, terms, k=k_sys).select(
        "doc_id", F.col("rank").cast("long").alias("bm25_rank")
    )
    q = qlm_search(docs, terms, k=k_sys).select(
        "doc_id", F.col("rank").cast("long").alias("qlm_rank")
    )
    f = b.join(q, "doc_id", "full_outer")
    rrf = (
        F.coalesce(
            F.expr(f"1000000 div ({k_rrf} + bm25_rank)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"1000000 div ({k_rrf} + qlm_rank)"), F.lit(0)
        )
    ).alias("rrf_micro")
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
    return (
        f.select("doc_id", "bm25_rank", "qlm_rank", rrf)
        .withColumn(
            "fused_rank", F.row_number().over(w).cast("long")
        )
    )


def mann_whitney_u(
    docs: DataFrame,
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test between the
    token-length distributions of two document groups — the
    location-shift complement to ks_two_sample's shape alarm (KS sees
    any CDF gap; U asks specifically "does one source stochastically
    dominate the other?"), and on same-generator groups an A/A
    calibration row (reject_95 should be 0).

    Exact integer arithmetic via DOUBLED midranks: for a value with t
    tied rows after `prev` smaller rows, each row's 2x midrank is
    rank2 = 2*prev + t + 1 (always an integer even when the midrank
    is a .5).  R1_x2 = sum over group-A rows of rank2, so
    u1_x2 = 2*U1 = R1_x2 - n1*(n1+1) exactly.  The normal
    approximation's tie-corrected verdict is cross-multiplied to
    integers: with d = u1_x2 - n1*n2 (= 2U1 - n1*n2, signed) and
    T = (n+1)*n*(n-1) - sum_t(t^3 - t),
      z^2 > 1.96^2  <=>  1875*n*(n-1)*d^2 > 2401*n1*n2*T
    (both sides of z^2 = d^2 * 3*n*(n-1) / (n1*n2*T) scaled by 10^4
    give 30000 vs 38416; dividing by their gcd 16 keeps the compare
    EXACT while quartering the overflow headroom cost).  auc_milli =
    u1_x2*1000 div (2*n1*n2) is the common-language effect size
    P(X_a > X_b) + 0.5*P(=) — 500 means "no dominance".

    Overflow bound: the LHS is <= 1875*n*(n-1)*(n1*n2)^2 <= 117*n^6,
    in BIGINT for n <= 650 — enforced with a raise (the ks_two_sample
    convention); past that a real deployment subsamples per group
    (the test's power saturates far earlier).

    Scale: one map-side-combinable groupBy on length (the
    distinct-length histogram), one cumulative window over that
    HISTOGRAM (the length_percentiles convention — never over the
    corpus), one final aggregate."""
    val = F.size(F.split(F.col("text"), " ")).alias("x")
    g = F.col(group_col)
    s = docs.filter(g.isin(group_a, group_b)).select(
        val, (g == group_a).cast("long").alias("is_a")
    )
    hist = s.groupBy("x").agg(
        F.sum("is_a").alias("c1"),
        F.sum(F.lit(1) - F.col("is_a")).alias("c2"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("t"),
        F.sum(F.col("c1") + F.col("c2")).over(w).alias("cumt"),
    )
    per = cum.select(
        "c1",
        "t",
        (
            F.lit(2) * (F.col("cumt") - F.col("t"))
            + F.col("t")
            + F.lit(1)
        ).alias("rank2"),
    )
    agg = per.agg(
        F.sum(F.col("c1")).alias("n1"),
        F.sum(F.col("t") - F.col("c1")).alias("n2"),
        F.sum(F.col("c1") * F.col("rank2")).alias("r1_x2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_sum"),
    )
    n = F.col("n1") + F.col("n2")
    u1_x2 = (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).alias(
        "u1_x2"
    )
    base = agg.select("n1", "n2", u1_x2, "tie_sum")
    d = F.col("u1_x2") - F.col("n1") * F.col("n2")
    tcorr = (n + 1) * n * (n - 1) - F.col("tie_sum")
    guard = F.when(
        n > F.lit(650),
        F.raise_error(
            F.lit("mann_whitney_u: exact verdict bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    return base.select(
        "n1",
        "n2",
        "u1_x2",
        F.expr("u1_x2 * 1000 div (2 * n1 * n2)").alias("auc_milli"),
        (
            guard
            + (
                F.lit(1875) * n * (n - 1) * d * d
                > F.lit(2401) * F.col("n1") * F.col("n2") * tcorr
            ).cast("long")
        ).alias("reject_95"),
    )


def spearman_corr(docs: DataFrame, max_rows: int = 1200) -> DataFrame:
    """Spearman rank correlation between per-document token count and
    distinct-token (vocabulary) count — the monotone-association card
    for corpus QA: healthy natural text keeps vocabulary growing with
    length (rho near 1); template/spam floods decouple them.

    Exact integer arithmetic: midranks are DOUBLED (the mann_whitney_u
    trick — rank2 = 2*prev + t + 1 is integer under ties), and because
    sum(rank2) = n*(n+1) identically, ranks are CENTERED per row as
    u = rank2 - (n+1) with |u| <= n-1 BEFORE aggregation — that keeps
    num = sum(ux*uy), dx = sum(ux^2), dy = sum(uy^2) below n^3, so
    dx*dy < 2^61 for n <= 1200 (raise-guarded; subsample beyond).
    rho = num / sqrt(dx*dy) is emitted as rho_milli with the SIGN
    PEELED around a truncating div (the zipf_fit rule) and the
    denominator from _isqrt (exact — the float seed is within +/-1 of
    the true root far past 2^52, and the two corrections close that);
    constant columns (dx or dy = 0) yield NULL rho_milli.

    Scale: two value histograms (groupBy + cumulative window over
    HISTOGRAM-sized tables), broadcast-joined back to the (x, y) rows;
    one final aggregate.  No corpus-wide sort or window."""
    s = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("y"),
    )
    w_ = lambda c: Window.orderBy(c).rowsBetween(
        Window.unboundedPreceding, 0
    )

    def rank2_table(col):
        h = s.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return h.select(
            col,
            (
                F.lit(2) * (F.sum("c").over(w_(col)) - F.col("c"))
                + F.col("c")
                + F.lit(1)
            ).alias(f"r2_{col}"),
        )

    tot = s.agg(F.count(F.lit(1)).alias("n"))
    joined = (
        s.join(F.broadcast(rank2_table("x")), "x")
        .join(F.broadcast(rank2_table("y")), "y")
        .crossJoin(F.broadcast(tot))
    )
    ux = F.col("r2_x") - (F.col("n") + 1)
    uy = F.col("r2_y") - (F.col("n") + 1)
    agg = joined.groupBy("n").agg(
        F.sum(ux * uy).alias("num"),
        F.sum(ux * ux).alias("dx"),
        F.sum(uy * uy).alias("dy"),
    )
    guard = F.when(
        F.col("n") > F.lit(max_rows),
        F.raise_error(
            F.lit("spearman_corr: exact bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    with_denom = agg.withColumn(
        "denom", _isqrt(F.col("dx") * F.col("dy") + guard)
    )
    rho_milli = F.when(
        F.col("denom") == 0, F.lit(None).cast("long")
    ).otherwise(
        F.when(
            F.col("num") < 0,
            -F.expr("(1000 * (-num)) div denom"),
        ).otherwise(F.expr("(1000 * num) div denom"))
    )
    return with_denom.select(
        "n", "num", "dx", "dy", rho_milli.alias("rho_milli")
    )


def community_conductance(
    edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Per-community conductance phi(C) = cut(C) / min(vol(C), 2m-vol(C))
    of a node labeling over the undirected simple graph — the
    boundary-quality eval row complementing modularity (the lsh_eval
    rule: score the SHIPPED label_propagation output in-engine).
    Modularity rewards intra-density against a degree-null model;
    conductance directly measures how leaky each community's boundary
    is (0 = sealed, near 1000 milli = mostly boundary) — the objective
    sweep-cut partitioners optimize, and the number a crawl-shard
    planner reads as "cross-shard traffic share".

    All-integer: cut counts undirected edges with exactly one endpoint
    in C (each crossing edge contributes to BOTH sides' communities),
    vol sums degrees, cond_milli = cut*1000 div min(vol, 2m-vol) — one
    truncating division on non-negative operands (engine-exact).  The
    whole-graph community (vol = 2m) has an undefined denominator and
    yields NULL.  Unlabeled graph nodes are an ERROR (raise, the
    modularity rule — an inner join would silently shrink vol).

    Scale: one canonical-edge distinct, one degree groupBy, two
    equi-joins of the edge table against the (node, label) table, one
    UNION ALL + groupBy for the two-sided cut count; m rides as a
    one-row broadcast crossJoin.  No corpus-side window or sort."""
    und = _und_edges(edges).localCheckpoint()
    mm = und.agg(F.count(F.lit(1)).alias("m_edges"))
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    lab = labels.select("node", "label")
    nl = deg.join(lab, "node", "left").select(
        "deg",
        F.when(
            F.col("label").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("community_conductance: unlabeled graph node "),
                    F.col("node").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("label")).alias("label"),
    )
    vols = nl.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("deg").alias("vol"),
    )
    crossing = (
        und.join(
            lab.select(F.col("node").alias("lo"), F.col("label").alias("la")),
            "lo",
        )
        .join(
            lab.select(F.col("node").alias("hi"), F.col("label").alias("lb")),
            "hi",
        )
        .filter(F.col("la") != F.col("lb"))
    )
    cut = (
        crossing.select(F.col("la").alias("label"))
        .unionAll(crossing.select(F.col("lb").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    out = (
        vols.join(cut, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "label",
            "n_nodes",
            "vol",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.least(
                F.col("vol"), F.lit(2) * F.col("m_edges") - F.col("vol")
            ).alias("denom"),
        )
    )
    return out.select(
        "label",
        "n_nodes",
        "vol",
        "cut",
        F.when(F.col("denom") <= 0, F.lit(None).cast("long"))
        .otherwise(F.expr("cut * 1000 div denom"))
        .alias("cond_milli"),
    )


def wilson_quality_ci(
    docs: DataFrame,
    group_col: str = "source",
    max_group: int = 50_000,
) -> DataFrame:
    """Per-group Wilson 95% score interval for the quality_filter pass
    rate — the uncertainty-aware version of the pass-rate column every
    curation dashboard shows: a source with 3/4 docs passing is NOT
    "75% quality, ship it"; its Wilson interval [30%, 95%] says the
    sample is too small to act on.  Wilson (1927) is the standard
    small-n / extreme-p interval (normal approximation on the score
    scale, never goes outside [0,1]).

    Exact integer arithmetic with z = 1.96 = 49/25: multiplying the
    interval (2k + z^2)/(2(n + z^2)) -/+ z*sqrt(4nk(n-k) + z^2*n^2)
    / (2n(n + z^2)) through by 625n gives
      bound = (1250*n*k + 2401*n -/+ 49*sqrt(R)) / (2*n*(625*n + 2401)),
      R = 2401*n^2 + 2500*n*k*(n-k)
    — R is a non-negative integer, sqrt(R) takes _isqrt (exact), and
    the lower numerator is >= 0 (the true Wilson lower bound is >= 0
    and the floor'd root only raises it), so the final 10^6-scaled
    truncating divisions are engine-exact.  Overflow: numerators are
    <= 10^6 * 1251 * n^2, in BIGINT for n <= 50,000 per group —
    raise-guarded (subsample past that: at n = 50k the interval is
    already +/-0.4%, the CI has stopped mattering).

    Scale: quality_filter is a scan-speed row projection (keep rides
    with the `carry` group key — no join-back shuffle); then ONE
    map-side-combinable groupBy(group).  The isqrt chain is per-GROUP,
    not per-row."""
    qf = quality_filter(docs, carry=(group_col,))
    g = qf.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("keep").cast("long").alias("k"),
    )
    guard = F.when(
        F.col("n") > F.lit(max_group),
        F.raise_error(
            F.lit("wilson_quality_ci: exact bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    r = g.withColumn(
        "rr",
        F.lit(2401) * F.col("n") * F.col("n")
        + F.lit(2500) * F.col("n") * F.col("k")
        * (F.col("n") - F.col("k"))
        + guard,
    ).withColumn("s", _isqrt(F.col("rr")))
    return r.select(
        group_col,
        "n",
        "k",
        F.expr("(1000000 * k) div n").alias("p_micro"),
        F.expr(
            "(1000000 * (1250*n*k + 2401*n - 49*s))"
            " div (2*n*(625*n + 2401))"
        ).alias("lo_micro"),
        F.expr(
            "(1000000 * (1250*n*k + 2401*n + 49*s))"
            " div (2*n*(625*n + 2401))"
        ).alias("hi_micro"),
    )


def classifier_agreement(
    docs: DataFrame,
    n_buckets: int = 4096,
    max_docs: int = 1_000_000,
) -> DataFrame:
    """Cohen's kappa between the rule-based quality_filter verdict and
    the model-based hashed_linear_score verdict — the inter-rater
    agreement card every two-filter curation stack needs (the
    dedup_agreement pattern applied to quality classifiers): raw
    accuracy overstates agreement when both raters say "keep" to most
    docs; kappa subtracts the chance-agreement floor.

    All-integer: with n scored docs, a = qf keeps, b = model keeps,
    agree = matching verdicts, kappa = (n*agree - a*b - (n-a)(n-b))
    / (n^2 - a*b - (n-a)(n-b)) — numerator SIGNED (worse-than-chance
    raters exist), so the milli division peels the sign (the zipf_fit
    rule); a degenerate denominator (both raters constant) yields NULL.
    Overflow: terms <= 1000*n^2, raise-guarded at n > 10^6 (subsample
    past that — kappa's CI at n=10^6 is +/-0.2%, it has converged).

    Docs whose text normalizes to empty have no model score (the
    hashed_linear_score exclusion) and are reported as n_excluded, NOT
    silently dropped from the card.

    Scale: both verdict streams are scan-speed projections (one
    broadcast weight join on the model side); one doc_id equi-join and
    ONE map-side-combinable aggregate."""
    qf = quality_filter(docs).select("doc_id", F.col("keep").alias("qk"))
    hls = hashed_linear_score(docs, n_buckets=n_buckets).select(
        "doc_id", F.col("keep").alias("hk")
    )
    j = qf.join(hls, "doc_id", "left")
    g = j.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("hk").alias("n_scored"),
        F.sum(
            F.when(F.col("hk").isNotNull(), F.col("qk")).otherwise(0)
        ).cast("long").alias("qf_pos"),
        F.coalesce(F.sum("hk"), F.lit(0)).cast("long").alias("hls_pos"),
        F.sum(
            F.when(F.col("qk") == F.col("hk"), 1).otherwise(0)
        ).cast("long").alias("agree"),
    )
    guard = F.when(
        F.col("n_total") > F.lit(max_docs),
        F.raise_error(
            F.lit("classifier_agreement: exact bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    n = F.col("n_scored")
    pe_num = (
        F.col("qf_pos") * F.col("hls_pos")
        + (n - F.col("qf_pos")) * (n - F.col("hls_pos"))
        + guard
    )
    d = g.select(
        "n_scored",
        (F.col("n_total") - n).alias("n_excluded"),
        "qf_pos",
        "hls_pos",
        "agree",
        (n * F.col("agree") - pe_num).alias("knum"),
        (n * n - pe_num).alias("kden"),
    )
    return d.select(
        "n_scored",
        "n_excluded",
        "qf_pos",
        "hls_pos",
        "agree",
        F.when(F.col("kden") <= 0, F.lit(None).cast("long"))
        .when(
            F.col("knum") < 0,
            -F.expr("(1000 * (-knum)) div kden"),
        )
        .otherwise(F.expr("(1000 * knum) div kden"))
        .alias("kappa_milli"),
    )


def score_pr_curve(
    docs: DataFrame,
    thresholds: tuple[int, ...] = (-50, 0, 50, 100, 150, 200),
    n_buckets: int = 4096,
) -> DataFrame:
    """Precision/recall sweep of the hashed_linear_score classifier
    against the quality_filter verdict as reference labels — the
    threshold-tuning card for model-based filtering: pick the
    micro-unit cutoff by reading precision/recall/F1 at each candidate,
    not by eyeballing one operating point.  With the md5 stand-in
    weights the curve is flat at the label prevalence (precision ~
    base rate at every threshold) — which IS the null-calibration
    read; swap trained weights in and the same plan draws the real
    curve.

    All-integer: per threshold t, TP/FP/FN are conditional counts of
    (score_micro >= t) x reference label; precision/recall/F1 are
    single truncating milli divisions on non-negative operands (empty
    denominators yield NULL, never 0 — an undefined precision is not
    a zero precision).

    Scale: ONE aggregate computes every threshold's cells as
    conditional sums (the vocab_growth rule — never one pass per
    threshold), unpivoted through an explode of a literal struct array
    over the single result row.  Docs without a model score are
    excluded from the sweep (classifier_agreement reports them)."""
    qf = quality_filter(docs).select("doc_id", F.col("keep").alias("qk"))
    hls = hashed_linear_score(docs, n_buckets=n_buckets).select(
        "doc_id", "score_micro"
    )
    j = qf.join(hls, "doc_id")
    aggs = []
    for i, t in enumerate(thresholds):
        pred = F.col("score_micro") >= F.lit(int(t))
        pos = F.col("qk") == 1
        aggs.append(
            F.sum(F.when(pred & pos, 1).otherwise(0))
            .cast("long").alias(f"tp_{i}")
        )
        aggs.append(
            F.sum(F.when(pred & ~pos, 1).otherwise(0))
            .cast("long").alias(f"fp_{i}")
        )
        aggs.append(
            F.sum(F.when(~pred & pos, 1).otherwise(0))
            .cast("long").alias(f"fn_{i}")
        )
    one = j.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(int(t)).cast("long").alias("threshold_micro"),
                F.coalesce(F.col(f"tp_{i}"), F.lit(0)).alias("tp"),
                F.coalesce(F.col(f"fp_{i}"), F.lit(0)).alias("fp"),
                F.coalesce(F.col(f"fn_{i}"), F.lit(0)).alias("fn"),
            )
            for i, t in enumerate(thresholds)
        ]
    )
    ex = one.select(F.explode(rows).alias("r")).select("r.*")
    return ex.select(
        "threshold_micro",
        (F.col("tp") + F.col("fp")).alias("pred_pos"),
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(1000 * tp) div (tp + fp)"))
        .alias("precision_milli"),
        F.when(F.col("tp") + F.col("fn") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(1000 * tp) div (tp + fn)"))
        .alias("recall_milli"),
        F.when(
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") == 0,
            F.lit(None).cast("long"),
        )
        .otherwise(F.expr("(2000 * tp) div (2 * tp + fp + fn)"))
        .alias("f1_milli"),
    )


def kendall_tau(docs: DataFrame, max_rows: int = 1200) -> DataFrame:
    """Kendall tau-b between per-document token count and distinct-token
    count — the pair-concordance twin of spearman_corr (tau is the
    probability-scale association: P(concordant) - P(discordant),
    robust to the outlier pairs that stretch rho).

    NOT a row-level O(n^2) self-join: concordant/discordant pair counts
    come from the joint (x, y) CELL histogram — C = sum over cell pairs
    with x_a < x_b and y_a < y_b of c_a*c_b, D likewise with y_a > y_b,
    both as conditional sums over ONE inequality join of the histogram
    against itself (cells <= n, so the join is bounded by n^2 CELL
    pairs, not doc pairs, and the histogram is tiny).  Tie terms
    tx = sum cx*(cx-1)/2 come from the marginal histograms.

    Exact integers: tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)) with
    n0 = n(n-1)/2; the radicand is < n^4/4 <= 2^42 at n = 1200
    (raise-guarded; subsample beyond) so _isqrt is exact; the milli
    division peels the SIGN (C < D happens); a fully-tied margin
    (n0 = tx or ty) yields NULL."""
    s = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("y"),
    )
    cells = s.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    tot = s.agg(F.count(F.lit(1)).alias("n"))

    def tie_sum(col, name):
        h = s.groupBy(col).agg(F.count(F.lit(1)).alias("cc"))
        return h.agg(
            F.coalesce(
                F.sum(F.expr("cc * (cc - 1) div 2")), F.lit(0)
            ).alias(name)
        )

    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("c").alias("ca"),
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("c").alias("cb"),
    )
    cd = (
        a.join(b, F.col("xa") < F.col("xb"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ya") < F.col("yb"),
                        F.col("ca") * F.col("cb"),
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("c_pairs"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ya") > F.col("yb"),
                        F.col("ca") * F.col("cb"),
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("d_pairs"),
        )
    )
    j = (
        tot.crossJoin(F.broadcast(tie_sum("x", "tx")))
        .crossJoin(F.broadcast(tie_sum("y", "ty")))
        .crossJoin(F.broadcast(cd))
    )
    guard = F.when(
        F.col("n") > F.lit(max_rows),
        F.raise_error(
            F.lit("kendall_tau: exact bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    with_n0 = j.select(
        "n", "c_pairs", "d_pairs", "tx", "ty",
        (F.expr("n * (n - 1) div 2") + guard).alias("n0"),
    )
    rad = (F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty"))
    w = with_n0.withColumn("denom", _isqrt(rad)).withColumn(
        "tnum", F.col("c_pairs") - F.col("d_pairs")
    )
    return w.select(
        "n",
        "c_pairs",
        "d_pairs",
        "tx",
        "ty",
        F.when(
            (F.col("n0") - F.col("tx") <= 0)
            | (F.col("n0") - F.col("ty") <= 0),
            F.lit(None).cast("long"),
        )
        .when(F.col("tnum") < 0, -F.expr("(1000 * (-tnum)) div denom"))
        .otherwise(F.expr("(1000 * tnum) div denom"))
        .alias("tau_milli"),
    )


def heaps_fit(
    docs: DataFrame,
    cutoffs: tuple[int, ...] = (31, 62, 125, 250, 500),
    gram_n: int = 3,
) -> DataFrame:
    """Heaps'/Herdan's-law fit V = C * N^beta: OLS of ln(vocab) on
    ln(tokens) over the vocab_growth curve's cutoff points — the
    vocabulary-growth EXPONENT as one number (natural text sits near
    beta ~ 0.5-0.8, i.e. slope_micro 500k-800k; a heavily duplicated
    or templated corpus flattens toward 0, synthetic token soup climbs
    toward 1).  vocab_growth shows the curve; heaps_fit is the
    data-card scalar a drift monitor can threshold.

    Runs over word gram_n-grams (default 3): the synthetic fixture's
    31-type unigram vocabulary saturates by doc 31 (slope exactly 0 —
    a vacuous fit, the good_turing rule), while its 16.5k trigram
    types keep growing through every cutoff.

    Exactness: rides the vocab_growth counting plan (_growth_curve,
    integer) and the zipf_fit OLS recipe — ln runs once per CUTOFF
    point and floors to deci-milli-nats before the integer
    cross-products (_ols_micro_exprs: sign-peeled slope,
    +2^40-offset intercept mean, every division positive).  Points
    with zero tokens or zero vocab (cutoff before the first doc)
    carry no ln and are dropped.  Overflow: x,y <= 1e4*ln(N) ~ 3e5
    even at 10^13 tokens, so n*sxy < 2^50 for dozens of cutoffs.

    Scale: one-pass conditional-sum plan (adding a cutoff costs a
    column, not a scan) + a five-row projection and a one-row
    aggregate — the corpus is read ONCE."""
    cuts = sorted(int(c) for c in cutoffs)
    vg = _growth_curve(_gram_stream(docs, gram_n), cuts, col="g")
    q = F.lit(10_000.0)
    pts = vg.filter(
        (F.col("tokens") > 0) & (F.col("vocab") > 0)
    ).select(
        F.floor(F.log(F.col("tokens").cast("double")) * q)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("vocab").cast("double")) * q)
        .cast("long")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return sums.selectExpr(*_ols_micro_exprs("n_pts"))


def mad_outliers(
    docs: DataFrame, group_col: str = "source", k_mads: int = 3
) -> DataFrame:
    """Per-group robust length-outlier card: median + MAD (median
    absolute deviation) of the per-document token count, and how many
    docs sit more than k_mads MADs from the median — the outlier
    detector that mean/stddev cannot be (one 10^6-token page drags a
    mean-based z-score's own baseline; the median doesn't move).

    Exact integer medians cross-engine: a median of n integers is the
    HALF-integer (x[(n+1)//2] + x[(n+2)//2]) / 2, so the card carries
    med2 = the SUM of the two middle order statistics (integer, exact,
    no rounding convention); deviations dev2 = |2x - med2| are then
    integers and their median doubles again to mad4 = sum of the two
    middle dev2 order stats (MAD = mad4/4).  The flag is the integer
    cross-multiplication  2*dev2 > k_mads*mad4  <=>  |x - med| >
    k_mads*MAD.  A zero MAD (over half the group identical) flags any
    nonzero deviation — the standard MAD-rule behavior, documented
    rather than patched.  No consistency constant: the threshold is
    k_mads raw MADs (k=3 ~ 2sigma-ish on normal data), a convention
    the card states, not estimates.

    Scale: medians come from per-group VALUE HISTOGRAMS (groupBy +
    cumulative window over histogram rows — the spearman_corr rule:
    never a corpus-wide sort), joined back broadcast; the corpus
    stream is scanned twice (once per median stage), each pass
    map-side combinable."""
    s = docs.select(
        F.col(group_col).alias("grp"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
    )

    def med2_table(vals: DataFrame, col: str) -> DataFrame:
        # vals: (grp, <col>) -> (grp, med2 = sum of the two middle
        # order statistics), via the cumulative histogram
        h = vals.groupBy("grp", col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("grp").orderBy(col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = h.select(
            "grp", col, "c", F.sum("c").over(w).alias("cum")
        )
        nn = vals.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
        j = cum.join(F.broadcast(nn), "grp")
        p1 = F.expr("(n + 1) div 2")
        p2 = F.expr("(n + 2) div 2")
        return j.groupBy("grp").agg(
            F.min(F.when(F.col("cum") >= p1, F.col(col))).alias("m1"),
            F.min(F.when(F.col("cum") >= p2, F.col(col))).alias("m2"),
            F.first("n").alias("n"),
        ).select(
            "grp",
            (F.col("m1") + F.col("m2")).alias(f"med2_{col}"),
            "n",
        )

    med = med2_table(s, "x").select("grp", "med2_x", "n")
    dev = s.join(F.broadcast(med.select("grp", "med2_x")), "grp").select(
        "grp",
        F.abs(F.lit(2) * F.col("x") - F.col("med2_x")).alias("d"),
    )
    mad = med2_table(dev, "d").select(
        "grp", F.col("med2_d").alias("mad4")
    )
    flagged = (
        dev.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.sum(
                (F.lit(2) * F.col("d") > F.lit(int(k_mads)) * F.col("mad4"))
                .cast("long")
            ).alias("n_outliers")
        )
    )
    out = (
        med.join(mad, "grp")
        .join(flagged, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.col("med2_x").alias("med2"),
            "mad4",
            "n_outliers",
            F.expr("(1000 * n_outliers) div n").alias("outlier_milli"),
        )
    )
    return out


def jsd_drift(
    docs: DataFrame, max_side: int = 1_500_000_000
) -> DataFrame:
    """Jensen-Shannon divergence between the even-doc_id and odd-doc_id
    halves' unigram distributions — the bounded, symmetric drift
    divergence (0 = identical, ln 2 ~ 693147 micro-nats = disjoint
    vocabularies) complementing psi_drift's banded PSI: JSD sees
    VOCABULARY drift term by term where PSI bins a single scalar
    signal.  On an i.i.d. corpus the even/odd split is an A/A control
    and jsd_micro sits near 0 — the null read a monitor should verify
    before trusting the alarm on real batch pairs.

    Cross-engine exactness (the unigram_surprisal recipe): with
    integer term counts a, b and side totals A, B, each term's mixture
    ratio is the INTEGER cross-ratio 2*a*B / (a*B + b*A), its ln is
    evaluated once and floored to micro-nats, and the contribution
    a * floor(1e6 * ln(.)) is an integer — the two side sums S1, S2
    are order-free integer sums.  jsd_micro = S1/(2A) + S2/(2B) as two
    SIGN-PEELED truncating divisions (per-term contributions are
    signed even though the total is >= 0).  Terms absent from a side
    contribute only from the present side (the ratio degenerates to
    exactly 2, no ln(0) anywhere).  Overflow: |contrib| <= a * 2.2e7,
    so S1 < 2^63 for A <= 1.5e9 tokens per side (raise-guarded;
    subsample beyond).  Residual: ln's ~1-ulp wiggle at floor
    boundaries (the unigram_surprisal caveat).

    An empty side makes the divergence undefined -> jsd_micro NULL.

    Scale: ONE token-count groupBy with both sides as conditional sums
    (map-side combinable), a one-row totals aggregate broadcast back,
    one final single-row aggregate.  No joins on the corpus stream."""
    toks = docs.select(
        (F.col("doc_id") % 2).alias("side"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tt = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    guard = F.when(
        (F.col("at") > F.lit(max_side)) | (F.col("bt") > F.lit(max_side)),
        F.raise_error(
            F.lit("jsd_drift: exact bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    tot = tt.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.coalesce(F.sum("a"), F.lit(0)).alias("at"),
        F.coalesce(F.sum("b"), F.lit(0)).alias("bt"),
    ).select("n_terms", (F.col("at") + guard).alias("at"), "bt")
    j = tt.crossJoin(F.broadcast(tot))
    mill = F.lit(1_000_000.0)
    la = F.floor(
        F.log(
            (F.lit(2) * F.col("a") * F.col("bt")).cast("double")
            / (
                F.col("a") * F.col("bt") + F.col("b") * F.col("at")
            ).cast("double")
        )
        * mill
    ).cast("long")
    lb = F.floor(
        F.log(
            (F.lit(2) * F.col("b") * F.col("at")).cast("double")
            / (
                F.col("a") * F.col("bt") + F.col("b") * F.col("at")
            ).cast("double")
        )
        * mill
    ).cast("long")
    # the denom guard only bites when a SIDE is empty (b = 0 for every
    # term makes a*bt + b*at = 0): ANSI Spark throws on the 0/0 double
    # division even inside an untaken projection, so the mixture term
    # must not be evaluated at all — jsd_micro is NULL then anyway
    denom_pos = (
        F.col("a") * F.col("bt") + F.col("b") * F.col("at") > 0
    )
    agg = j.groupBy("n_terms", "at", "bt").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("a") > 0) & denom_pos, F.col("a") * la
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("s1"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("b") > 0) & denom_pos, F.col("b") * lb
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("s2"),
    )

    def sgn_div(num: str, den: str):
        return (
            F.when(
                F.col(num) < 0, -F.expr(f"(-{num}) div (2 * {den})")
            ).otherwise(F.expr(f"{num} div (2 * {den})"))
        )

    return agg.select(
        "n_terms",
        F.col("at").alias("a_total"),
        F.col("bt").alias("b_total"),
        "s1",
        "s2",
        F.when(
            (F.col("at") == 0) | (F.col("bt") == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(sgn_div("s1", "at") + sgn_div("s2", "bt"))
        .alias("jsd_micro"),
    )


def roc_auc(
    docs: DataFrame,
    n_buckets: int = 4096,
    max_docs: int = 1_000_000,
) -> DataFrame:
    """ROC-AUC of the SHIPPED hashed_linear_score classifier against the
    quality_filter verdict as reference labels — the threshold-free
    discrimination eval completing the classifier scorecard trio
    (classifier_agreement = one operating point's chance-corrected
    agreement, score_pr_curve = per-threshold operating points, this =
    ranking quality over ALL thresholds).  With the md5 stand-in
    weights AUC ~ 500 milli is the honest null read; a trained weight
    table lights the same plan up.

    AUC = P(score_pos > score_neg) + 0.5 * P(tie), i.e. the
    Mann-Whitney U statistic normalized by n1*n0 — computed exactly
    with the DOUBLED-midrank histogram (the mann_whitney_u machinery):
    for a score value with t tied rows after prev smaller rows,
    rank2 = 2*prev + t + 1; r1_x2 = sum over positives of rank2;
    u1_x2 = 2*U1 = r1_x2 - n1*(n1+1) (always >= 0);
    auc_milli = 1000*u1_x2 div (2*n1*n0).  All integers; a degenerate
    label side (n1 = 0 or n0 = 0) yields NULL, never 500.

    Overflow: 1000*u1_x2 <= 2000*n1*n0 <= 500*n^2 < 2^63 far past the
    max_docs = 10^6 raise guard (an AUC at n = 10^6 has converged —
    subsample beyond).

    Scale: the cumulative window runs over the SCORE HISTOGRAM, not
    the corpus — score_micro lands in [-1000, 1000] by construction
    (per-doc mean of +/-1000-bounded weights), so the windowed table
    is <= 2001 rows regardless of corpus size.  One map-side
    combinable groupBy, one tiny window, one final aggregate."""
    qf = quality_filter(docs).select("doc_id", F.col("keep").alias("qk"))
    hls = hashed_linear_score(docs, n_buckets=n_buckets).select(
        "doc_id", "score_micro"
    )
    j = qf.join(hls, "doc_id")
    hist = j.groupBy("score_micro").agg(
        F.sum("qk").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("qk")).cast("long").alias("c0"),
    )
    w = Window.orderBy("score_micro").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "c1",
        (F.col("c1") + F.col("c0")).alias("t"),
        F.sum(F.col("c1") + F.col("c0")).over(w).alias("cumt"),
    )
    per = cum.select(
        "c1",
        "t",
        (
            F.lit(2) * (F.col("cumt") - F.col("t"))
            + F.col("t")
            + F.lit(1)
        ).alias("rank2"),
    )
    agg = per.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum(F.col("t") - F.col("c1")), F.lit(0)).alias(
            "n_neg"
        ),
        F.coalesce(F.sum(F.col("c1") * F.col("rank2")), F.lit(0)).alias(
            "r1_x2"
        ),
    )
    guard = F.when(
        F.col("n_pos") + F.col("n_neg") > F.lit(max_docs),
        F.raise_error(
            F.lit("roc_auc: exact bound exceeded, subsample")
        ).cast("long"),
    ).otherwise(F.lit(0))
    base = agg.select(
        "n_pos",
        "n_neg",
        (
            F.col("r1_x2")
            - F.col("n_pos") * (F.col("n_pos") + 1)
            + guard
        ).alias("u1_x2"),
    )
    return base.select(
        (F.col("n_pos") + F.col("n_neg")).alias("n_scored"),
        "n_pos",
        "n_neg",
        "u1_x2",
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_neg") == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(F.expr("(1000 * u1_x2) div (2 * n_pos * n_neg)"))
        .alias("auc_milli"),
    )


def score_reliability(
    docs: DataFrame,
    n_buckets: int = 4096,
    lo: int = -250,
    hi: int = 250,
    n_bands: int = 10,
) -> DataFrame:
    """Score-band reliability table for the hashed_linear_score
    classifier: clamp score_micro into [lo, hi), cut that range into
    n_bands fixed-width bands, and report each band's observed
    quality_filter positive rate plus its lift over the global base
    rate — the monotone-calibration read (a healthy scorer's
    obs_milli climbs with the band; the md5 stand-in weights draw the
    flat null).  FIXED bands, not quantiles: the card must be
    comparable across corpora and engine-deterministic.

    All-integer: band = (clamped - lo) div width over an integer
    clamp; obs_milli = 1000*pos div n; lift_milli =
    (1000*pos*n_total) div (n*pos_total) — one truncating division of
    non-negative bigints (NULL when the corpus has no positives, an
    undefined lift is not a zero lift).  Empty bands are absent rows
    (the card reports coverage via n, not zero-filled padding).

    Scale: one map-side-combinable groupBy on band (<= n_bands
    groups), base totals as a one-row broadcast crossJoin back — no
    second corpus pass, no window."""
    width = (hi - lo) // n_bands
    if width * n_bands != hi - lo:
        raise ValueError("score_reliability: bands must divide range")
    qf = quality_filter(docs).select("doc_id", F.col("keep").alias("qk"))
    hls = hashed_linear_score(docs, n_buckets=n_buckets).select(
        "doc_id", "score_micro"
    )
    j = qf.join(hls, "doc_id")
    clamped = F.greatest(
        F.lit(lo), F.least(F.lit(hi - 1), F.col("score_micro"))
    )
    banded = j.select(
        ((clamped - F.lit(lo)).cast("long") / F.lit(width))
        .cast("long")
        .alias("band"),
        "qk",
    )
    per = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qk").cast("long").alias("pos"),
    )
    tot = banded.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.coalesce(F.sum("qk"), F.lit(0)).cast("long").alias("pos_total"),
    )
    out = per.crossJoin(F.broadcast(tot))
    return out.select(
        "band",
        (F.lit(lo) + F.col("band") * F.lit(width)).alias("lo_micro"),
        (F.lit(lo) + (F.col("band") + 1) * F.lit(width)).alias(
            "hi_micro"
        ),
        "n",
        "pos",
        F.expr("(1000 * pos) div n").alias("obs_milli"),
        F.when(F.col("pos_total") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr("(1000 * pos * n_total) div (n * pos_total)")
        )
        .alias("lift_milli"),
    )


def centroid_summary(
    docs: DataFrame,
    pos_bits: int = 20,
    score_bound: int = 2**42,
    cache_handle: list | None = None,
) -> DataFrame:
    """(doc_id, sent_pos, sentence, score_milli, n_sents): one-sentence
    extractive summary per document — centroid scoring in the spirit of
    MEAD (Radev et al. 2004): a sentence's score is the sum of
    per-term idf over its DISTINCT whitespace tokens (rare terms mark
    informative sentences; distinct-terms, not tf, so a token repeated
    inside one sentence cannot stuff the score), and the winner is the
    argmax with the SMALLEST sent_pos on ties (lead bias — the packed
    pos-complement convention from budget_select).

    Exactness: idf is quantized ONCE per term to milli-nats
    (floor(ln(N/df)*1000) — the unigram_surprisal convention, with its
    documented 1-ulp-near-floor-boundary caveat), so sentence scores
    are order-free integer sums; the argmax packs
    score*2^pos_bits + (2^pos_bits-1 - sent_pos) so max() IS the
    argmax (the latest_snapshot family).  Packing violations raise PER
    ROW at the projection, never an aggregate-side flag (the cdc_apply
    AQE empty-relation lesson).

    Scale: tokenize + distinct + two map-side-combinable groupBys
    (sentence score, doc argmax); the corpus size rides in as a
    one-row broadcast crossJoin (no collect); the winner joins back to
    the sentence table on (doc_id, sent_pos) — co-partitioned
    equi-join.  idf table is term-level (vocabulary-sized) — AQE
    broadcasts it when small.  No window over the corpus, no global
    sort.  The sentence table feeds THREE consumers (token stream,
    n_sents, winner join-back), so it is always persisted (_pin, with
    the tfidf cache_handle release contract) — without it the regex
    split + explode re-executes per consumer."""
    sents = _pin(sentence_split(docs), cache_handle)
    stok = (
        sents.select(
            "doc_id",
            "sent_pos",
            F.explode(F.split("sentence", " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    dfreq = (
        stok.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    idf = dfreq.crossJoin(F.broadcast(n)).select(
        "term",
        F.floor(
            F.log(F.col("__n").cast("double") / F.col("df").cast("double"))
            * 1000
        )
        .cast("long")
        .alias("idf_milli"),
    )
    score = (
        stok.join(idf, "term")
        .groupBy("doc_id", "sent_pos")
        .agg(F.sum("idf_milli").cast("long").alias("score_milli"))
    )
    pos_mod = 2**pos_bits
    sc, sp = F.col("score_milli"), F.col("sent_pos")
    packed = F.when(
        (sc >= 0) & (sc < F.lit(score_bound)) & (sp < F.lit(pos_mod)),
        sc * F.lit(pos_mod) + (F.lit(pos_mod - 1) - sp),
    ).otherwise(
        F.raise_error(
            F.lit(
                "centroid_summary: score/sent_pos outside packing "
                f"bounds (score<{score_bound}, pos<2^{pos_bits})"
            )
        ).cast("long")
    )
    win = (
        score.select("doc_id", packed.alias("__p"))
        .groupBy("doc_id")
        .agg(F.max("__p").alias("__p"))
        .select(
            "doc_id",
            F.shiftright("__p", pos_bits).alias("score_milli"),
            (F.lit(pos_mod - 1) - F.col("__p") % F.lit(pos_mod))
            .cast("int")
            .alias("sent_pos"),
        )
    )
    n_sents = sents.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sents")
    )
    return (
        win.join(sents, ["doc_id", "sent_pos"])
        .join(n_sents, "doc_id")
        .select("doc_id", "sent_pos", "sentence", "score_milli", "n_sents")
    )


def bipartite_check(
    edges: DataFrame, seeds: DataFrame, max_depth: int = 8
) -> DataFrame:
    """One-row card (n_reached, n_edges_reached, n_conflicts,
    is_bipartite): BFS 2-coloring test — color = parity of the
    shortest seed distance; an edge whose two endpoints carry the SAME
    parity closes an odd cycle (the textbook certificate: a graph is
    bipartite iff BFS finds no same-level edge).  The verdict covers
    the REACHED subgraph only (bfs_levels' max_depth bound semantics
    — unreached nodes neither color nor conflict); is_bipartite is a
    certificate for that subgraph, and at web scale you run it per
    community / per host-graph sample, not on the full crawl.

    All-integer (distances, parities, counts) — cross-engine exact.
    Scale: symmetrize+distinct is one shuffle; BFS is bfs_levels
    (frontier joins, localCheckpoint per round — the pagerank lesson);
    the conflict count is two equi-joins of the canonical edge list
    against the small distance table and one aggregate.  No windows,
    no global sort."""
    sym = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .unionByName(
            edges.select(
                F.col("dst").cast("long").alias("src"),
                F.col("src").cast("long").alias("dst"),
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    dist = bfs_levels(sym, seeds, max_depth)
    canon = sym.filter(F.col("src") < F.col("dst"))
    ds = dist.select(
        F.col("node").alias("src"), (F.col("dist") % 2).alias("cs")
    )
    dd = dist.select(
        F.col("node").alias("dst"), (F.col("dist") % 2).alias("cd")
    )
    pairs = canon.join(ds, "src").join(dd, "dst")
    ecard = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges_reached"),
        F.coalesce(
            F.sum((F.col("cs") == F.col("cd")).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("n_conflicts"),
    )
    ncard = dist.agg(F.count(F.lit(1)).cast("long").alias("n_reached"))
    return ncard.crossJoin(ecard).select(
        "n_reached",
        "n_edges_reached",
        "n_conflicts",
        (F.col("n_conflicts") == 0).cast("int").alias("is_bipartite"),
    )


def embedding_drift(
    emb: DataFrame, q: int = 1000, ndim: int = 64, scale: int = 100
) -> DataFrame:
    """One-row card (n_a, n_b, cos_micro, top_dim, top_delta_micro):
    distribution drift between two labeled halves of an embedding
    corpus (column `half` ∈ {0,1}) — the vector-space twin of
    psi_drift/jsd_drift: cosine between the two halves' MEAN vectors
    plus the dimension with the largest mean gap.  The card a training
    pipeline reads before mixing a new crawl snapshot into an old one:
    cos_micro near 1e6 = same distribution direction; a low cosine or
    a dominant top_dim names the shift.

    Exactness: components are clamped-integer quantized
    (_quant_dims — the kmeans/PQ space), per-half per-dim integer
    sums are order-free, and the mean is staged to integer
    scale-units via the OFFSET floor-div trick ((s·scale + q·scale·n)
    div n − q·scale — the r4 signed-mean rule, non-negative numerator
    so Spark div ≡ DuckDB //).  Cosine = dot over _isqrt norms with
    the sign peeled (the zipf_fit signed-ratio rule).  scale=100
    bounds |mean| ≤ q·scale = 1e5, so dot ≤ ndim·1e10 and
    dot·1e6 ≤ 6.4e17 < 2^63 — no overflow at ANY corpus size (the
    scale invariance of the mean is the point: counts cancel).

    Scale: ONE pass over the exploded stream (map-side-combinable
    groupBy(d) with conditional sums), then all remaining aggregates
    run on the ndim-row table — free (the markov_eval rule).  An
    empty half raises loudly (a drift card comparing against nothing
    must not silently emit NULLs)."""
    if 1_000_000 % (q * scale) != 0:
        raise ValueError("embedding_drift: q*scale must divide 1e6")
    dims = _quant_dims(emb, q, ndim, carry=("half",))
    per_dim = dims.groupBy("d").agg(
        F.sum(F.when(F.col("half") == 0, F.col("val")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("half") == 1, F.col("val")).otherwise(0))
        .cast("long")
        .alias("sb"),
    )
    counts = emb.agg(
        F.sum((F.col("half") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("half") == 1).cast("long")).alias("n_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    off = q * scale
    means = per_dim.crossJoin(F.broadcast(counts)).select(
        "d",
        "n_a",
        "n_b",
        F.when(
            (na > 0) & (nb > 0),
            (F.col("sa") * scale + F.lit(off) * na).cast("long"),
        )
        .otherwise(
            F.raise_error(
                F.lit("embedding_drift: a half is empty — nothing to compare")
            ).cast("long")
        )
        .alias("__numa"),
        (F.col("sb") * scale + F.lit(off) * nb).cast("long").alias("__numb"),
    ).select(
        "d",
        "n_a",
        "n_b",
        (F.expr("__numa div n_a") - F.lit(off)).alias("ma"),
        (F.expr("__numb div n_b") - F.lit(off)).alias("mb"),
    )
    ma, mb = F.col("ma"), F.col("mb")
    card = means.groupBy("n_a", "n_b").agg(
        F.sum(ma * mb).cast("long").alias("dot"),
        F.sum(ma * ma).cast("long").alias("sqa"),
        F.sum(mb * mb).cast("long").alias("sqb"),
        F.max(
            F.abs(ma - mb) * 128 + (F.lit(127) - F.col("d"))
        ).alias("__pk"),
    )
    staged = card.select(
        "n_a",
        "n_b",
        "dot",
        "__pk",
        F.greatest(
            _isqrt(F.col("sqa")) * _isqrt(F.col("sqb")), F.lit(1)
        ).alias("__den"),
        (F.abs(F.col("dot")) * F.lit(1_000_000)).alias("__mag"),
    )
    return staged.select(
        "n_a",
        "n_b",
        (
            F.when(F.col("dot") < 0, -1).otherwise(1)
            # truncating isqrt norms can overshoot 1.0 by a few micro
            # (den <= true norm product) — clamp so the card never
            # reports an impossible cosine
            * F.least(F.expr("__mag div __den"), F.lit(1_000_000))
        )
        .cast("long")
        .alias("cos_micro"),
        (F.lit(127) - F.col("__pk") % 128).cast("int").alias("top_dim"),
        (F.expr("__pk div 128") * F.lit(1_000_000 // (q * scale)))
        .cast("long")
        .alias("top_delta_micro"),
    )


def mixed_script_spoof(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_mixed, spoof_milli, top_suspect): per-doc
    mixed-script token detection — a whitespace token drawing letters
    from ≥ 2 of the confusable trio {latin, cyrillic, greek} is a
    homoglyph-spoof suspect ('p\\u0430ypal' with a Cyrillic а), the
    Unicode TR#39 restriction-level signal a web corpus screens before
    trusting anchor text or URLs.  A token entirely in ONE foreign
    script is NOT flagged (multilingual text is not spoofing — only
    the in-token mix is).  top_suspect = lexicographic min of the
    doc's mixed tokens (NULL when clean; min ignores nulls — here
    that's the wanted semantics, absence not a violation).

    Classes come from SCRIPT_CLASSES (one definition feeds the Spark
    patterns and the DuckDB oracle); spoof_milli = n_mixed*1000 div
    n_tokens (non-negative integer div, engine-identical).  Docs whose
    text yields zero tokens are absent (the sentence_split contract).

    Scale: one explode + three codegen'd rlike flags + ONE map-side-
    combinable groupBy(doc_id); no joins, no windows."""
    classes = dict(SCRIPT_CLASSES)
    tok = docs.select(
        "doc_id", F.explode(F.split(text_col, " ")).alias("tok")
    ).filter(F.col("tok") != "")
    flags = sum(
        F.col("tok").rlike(f"[{classes[s]}]").cast("int")
        for s in ("latin", "cyrillic", "greek")
    )
    per = tok.select(
        "doc_id", "tok", (flags >= 2).cast("long").alias("mixed")
    )
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("mixed").cast("long").alias("n_mixed"),
        F.expr("sum(mixed) * 1000 div count(1)").alias("spoof_milli"),
        F.min(
            F.when(F.col("mixed") == 1, F.col("tok"))
        ).alias("top_suspect"),
    )


def betweenness_approx(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    sigma_bound: int = 2**20,
    delta_bound: int = 2**40,
) -> DataFrame:
    """(node, bc_micro, n_seeds): landmark betweenness centrality —
    Brandes' dependency accumulation (Brandes 2001) restricted to a
    seed sample and a BFS horizon, the standard approximation
    (Brandes-Pich 2007) when exact all-sources betweenness is
    unaffordable.  Forward pass: per-seed BFS carrying σ (shortest-
    path counts; multi-edges count as parallel shortest paths on BOTH
    engines — neither side dedups).  Backward pass, level L→L−1:
    δ(v) = Σ_w σ(v)·(1e6 + δ(w)) div σ(w) over successor edges (v,w)
    with dist(w) = dist(v)+1 — the division is truncated PER TERM
    before the sum, so the integer result is order-free and engine-
    exact (the micro-quantize-before-aggregate family; truncation
    ≤ 1 micro per term is the documented approximation).  Nodes at the
    horizon take δ = 0 (paths through them to deeper nodes are
    uncounted — conservative, like bfs_levels' bound).  bc_micro sums
    δ over seeds for dist ≥ 1 rows; n_seeds = seeds reaching the node
    within the horizon.

    σ ≥ sigma_bound or δ ≥ delta_bound raises PER ROW (σ·(1e6+δ) must
    stay under 2^63 — the packed-key overflow convention, loud not
    silent).

    Scale: state is (seed, node) like harmonic_centrality (landmark
    count × reach, keep seeds at landmark scale); 2·max_depth rounds,
    each one equi-join + one map-side-combinable aggregate,
    localCheckpoint per round (the pagerank lesson)."""
    seeds = seeds.select(F.col("node").cast("long").alias("seed")).distinct()
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint()
    state = seeds.select(
        "seed",
        F.col("seed").alias("node"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    # the work bound edges * seeds <= GRAPH_DRIVER_MAX_WORK, as an edge
    # bound (integer floor keeps it exact)
    sp_ = _collect_within(state.select("seed"), GRAPH_DRIVER_MAX_WORK)
    ep = None if sp_ is None else _collect_within(
        edges,
        min(GRAPH_DRIVER_MAX_EDGES, GRAPH_DRIVER_MAX_WORK // max(len(sp_), 1)),
    )
    if ep is not None:
        # r6 driver fast path (the _seed_bfs pattern): Brandes forward σ
        # accumulation and the backward per-term truncated-div δ sums
        # are pure integer functions of the (multi-)edge list — replayed
        # per seed with exact int64 np.add.at accumulation, the SAME
        # per-candidate σ guard and per-node δ guard, multi-edges kept.
        nodes, si, di, sc = _factorize(
            ep["src"].to_numpy(dtype=np.int64),
            ep["dst"].to_numpy(dtype=np.int64),
            sp_["seed"].to_numpy(dtype=np.int64),
        )
        bc = np.zeros(nodes.size, dtype=np.int64)
        nsd = np.zeros(nodes.size, dtype=np.int64)
        for s0 in sc.tolist():
            d = np.full(nodes.size, -1, dtype=np.int64)
            sig = np.zeros(nodes.size, dtype=np.int64)
            d[s0] = 0
            sig[s0] = 1
            for r in range(1, max_depth + 1):
                sel = d[si] == r - 1
                if not sel.any():
                    break
                cand = np.zeros(nodes.size, dtype=np.int64)
                np.add.at(cand, di[sel], sig[si[sel]])
                reached = cand > 0
                if (cand[reached] >= sigma_bound).any():
                    raise ValueError(
                        f"betweenness_approx: sigma >= {sigma_bound} — "
                        "raise sigma_bound only with a delta_bound "
                        "keeping sigma*(1e6+delta) < 2^63"
                    )
                new = reached & (d == -1)
                d[new] = r
                sig[new] = cand[new]
            delta = np.zeros(nodes.size, dtype=np.int64)
            for L in range(max_depth, 0, -1):
                sel = (d[di] == L) & (d[si] == L - 1)
                nd = np.zeros(nodes.size, dtype=np.int64)
                if sel.any():
                    term = (
                        sig[si[sel]] * (1_000_000 + delta[di[sel]])
                    ) // sig[di[sel]]
                    np.add.at(nd, si[sel], term)
                prevm = d == L - 1
                if (nd[prevm] >= delta_bound).any():
                    raise ValueError(
                        f"betweenness_approx: delta >= {delta_bound}"
                    )
                delta[prevm] = nd[prevm]
            m = d >= 1
            bc[m] += delta[m]
            nsd[m] += 1
        keep = nsd > 0
        pdf = pd.DataFrame(
            {
                "node": nodes[keep],
                "bc_micro": bc[keep],
                "n_seeds": nsd[keep],
            }
        )
        return edges.sparkSession.createDataFrame(
            pdf, schema="node bigint, bc_micro bigint, n_seeds bigint"
        )
    guard_sigma = F.when(
        F.col("sigma") < F.lit(sigma_bound), F.col("sigma")
    ).otherwise(
        F.raise_error(
            F.lit(
                f"betweenness_approx: sigma >= {sigma_bound} — raise "
                "sigma_bound only with a delta_bound keeping "
                "sigma*(1e6+delta) < 2^63"
            )
        ).cast("long")
    )
    for r in range(1, max_depth + 1):
        frontier = state.filter(F.col("dist") == r - 1).select(
            "seed", F.col("node").alias("src"), "sigma"
        )
        cand = (
            edges.join(frontier, "src")
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .select("seed", "node", guard_sigma.alias("sigma"))
        )
        new = cand.join(
            state.select("seed", "node"), ["seed", "node"], "left_anti"
        ).select(
            "seed", "node", F.lit(r).cast("long").alias("dist"), "sigma"
        )
        state = state.unionByName(new).localCheckpoint()
    guard_delta = F.when(
        F.col("delta") < F.lit(delta_bound), F.col("delta")
    ).otherwise(
        F.raise_error(
            F.lit(f"betweenness_approx: delta >= {delta_bound}")
        ).cast("long")
    )
    level = state.filter(F.col("dist") == max_depth).select(
        "seed", "node", "sigma", F.lit(0).cast("long").alias("delta")
    ).localCheckpoint()
    acc = level
    for L in range(max_depth, 0, -1):
        succ = level.select(
            "seed",
            F.col("node").alias("dst"),
            F.col("sigma").alias("__sw"),
            F.col("delta").alias("__dw"),
        )
        terms = edges.join(succ, "dst").select(
            "seed",
            F.col("src").alias("node"),
            (F.lit(1_000_000) + F.col("__dw")).alias("__base"),
            "__sw",
        )
        prev = state.filter(F.col("dist") == L - 1).select(
            "seed", "node", "sigma"
        )
        contrib = (
            prev.join(terms, ["seed", "node"])
            .select(
                "seed",
                "node",
                "sigma",
                F.expr("(sigma * __base) div __sw").alias("__term"),
            )
            .groupBy("seed", "node", "sigma")
            .agg(F.sum("__term").cast("long").alias("delta"))
        )
        level = (
            prev.join(
                contrib.select("seed", "node", "delta"),
                ["seed", "node"],
                "left",
            )
            .select(
                "seed",
                "node",
                "sigma",
                F.coalesce(F.col("delta"), F.lit(0)).cast("long").alias(
                    "delta"
                ),
            )
            .select("seed", "node", "sigma", guard_delta.alias("delta"))
            .localCheckpoint()
        )
        acc = acc.unionByName(level)
    # dist-0 rows (the seeds themselves) end up in `acc`; Brandes
    # excludes v == s, so drop the seed diagonal
    bc = acc.filter(F.col("node") != F.col("seed"))
    return bc.groupBy("node").agg(
        F.sum("delta").cast("long").alias("bc_micro"),
        F.count(F.lit(1)).cast("long").alias("n_seeds"),
    )


def distance_distribution(
    edges: DataFrame, seeds: DataFrame, max_depth: int = 4
) -> DataFrame:
    """(dist, n_pairs, cum_pairs, cum_milli, is_eff_diameter): the
    landmark distance distribution — per-hop counts of (seed, node)
    pairs with shortest distance d ∈ [1, max_depth], the cumulative
    share in milli, and a flag on the EFFECTIVE-DIAMETER row (the
    smallest d covering ≥ 90% of reached pairs — the web-graph
    small-world statistic, Leskovec's densification-era convention).
    Pairs beyond the horizon are absent, so the 90% is of REACHED
    pairs (documented; at web scale run more/deeper landmarks until
    the tail stabilizes).

    All-integer: counts, prefix sums over the ≤ max_depth-row
    histogram (the markov_eval free-window rule), and the 90% rule
    cross-multiplied (cum·10 ≥ total·9) — no division at all in the
    verdict.  Shares _seed_bfs with harmonic_centrality."""
    dist = _seed_bfs(edges, seeds, max_depth)
    hist = (
        dist.filter(F.col("dist") >= 1)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    tot = hist.agg(F.sum("n_pairs").cast("long").alias("__t"))
    w = Window.orderBy("dist").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.crossJoin(F.broadcast(tot)).select(
        "dist",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("cum_pairs"),
        "__t",
    )
    return cum.select(
        "dist",
        "n_pairs",
        "cum_pairs",
        F.expr("cum_pairs * 1000 div __t").alias("cum_milli"),
        (
            (F.col("cum_pairs") * 10 >= F.col("__t") * 9)
            & ((F.col("cum_pairs") - F.col("n_pairs")) * 10 < F.col("__t") * 9)
        )
        .cast("int")
        .alias("is_eff_diameter"),
    )


def katz_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_len: int = 4,
    beta_den: int = 4,
    walk_bound: int = 2**36,
) -> DataFrame:
    """(node, katz_milli, n_walks_total): landmark Katz centrality —
    attenuated WALK counts from a seed sample: katz(v) = Σ_L β^L ·
    walks_L(seeds→v), β = 1/beta_den, L ∈ [1, max_len].  Unlike
    betweenness/harmonic this counts ALL walks (revisits included —
    the Katz definition), so the recursion is a pure linear pass:
    w_L(v) = Σ_{(u,v)∈E} w_{L-1}(u) — no shortest-path state, no
    anti-join.

    Exactness: walk counts are integers; each level's attenuated
    contribution is truncated INDEPENDENTLY (walks_L·1000 div
    beta_den^L — the per-term-before-sum family), so the milli sum is
    order-free and engine-exact.  Walk counts explode geometrically
    with the mean out-degree; w ≥ walk_bound raises PER ROW (the
    packed-key loud-refusal convention) — lower max_len or sample
    fewer seeds rather than silently wrapping.

    Scale: max_len rounds of one equi-join + one map-side-combinable
    groupBy over (node) — frontier is the WHOLE w_{L-1} table (walks
    never finalize like BFS distances); localCheckpoint per round
    (the pagerank lesson).  Landmark seeds keep state linear in
    reach."""
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint()
    w = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(1).cast("long").alias("w"))
        .localCheckpoint()
    )
    ep = _collect_within(edges, GRAPH_DRIVER_MAX_EDGES)
    sp_ = None if ep is None else _collect_within(
        w.select("node"), GRAPH_DRIVER_MAX_EDGES
    )
    if sp_ is not None:
        # r6 driver fast path (the pagerank pattern): the attenuated
        # walk-count recursion is a linear integer pass over the edge
        # list — replayed exactly in int64 numpy with the same per-node
        # walk bound and per-level truncated attenuation.
        nodes, si, di, sc = _factorize(
            ep["src"].to_numpy(dtype=np.int64),
            ep["dst"].to_numpy(dtype=np.int64),
            sp_["node"].to_numpy(dtype=np.int64),
        )
        wv = np.zeros(nodes.size, dtype=np.int64)
        wv[sc] = 1
        katz = np.zeros(nodes.size, dtype=np.int64)
        nwalks = np.zeros(nodes.size, dtype=np.int64)
        ever = np.zeros(nodes.size, dtype=bool)
        for L in range(1, max_len + 1):
            nw = np.zeros(nodes.size, dtype=np.int64)
            np.add.at(nw, di, wv[si])
            present = np.zeros(nodes.size, dtype=bool)
            present[np.unique(di[wv[si] > 0])] = True
            if (nw[present] >= walk_bound).any():
                raise ValueError(
                    f"katz_centrality: walk count >= {walk_bound} — "
                    "lower max_len / beta_den or sample fewer seeds"
                )
            wv = np.where(present, nw, 0)
            katz[present] += (nw[present] * 1000) // (beta_den ** L)
            nwalks[present] += nw[present]
            ever |= present
        pdf = pd.DataFrame(
            {
                "node": nodes[ever],
                "katz_milli": katz[ever],
                "n_walks_total": nwalks[ever],
            }
        )
        return edges.sparkSession.createDataFrame(
            pdf, schema="node bigint, katz_milli bigint, n_walks_total bigint"
        )
    guard = F.when(F.col("w") < F.lit(walk_bound), F.col("w")).otherwise(
        F.raise_error(
            F.lit(
                f"katz_centrality: walk count >= {walk_bound} — lower "
                "max_len / beta_den or sample fewer seeds"
            )
        ).cast("long")
    )
    acc = None
    for L in range(1, max_len + 1):
        w = (
            edges.join(w.select(F.col("node").alias("src"), "w"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").cast("long").alias("w"))
            .select("node", guard.alias("w"))
            .localCheckpoint()
        )
        lvl = w.select(
            "node",
            F.expr(f"w * 1000 div {beta_den ** L}").alias("k"),
            F.col("w").alias("nw"),
        )
        acc = lvl if acc is None else acc.unionByName(lvl)
    return acc.groupBy("node").agg(
        F.sum("k").cast("long").alias("katz_milli"),
        F.sum("nw").cast("long").alias("n_walks_total"),
    )


def mutual_nn_pairs(
    emb: DataFrame,
    *,
    force: bool = False,
) -> DataFrame:
    """(vec_id_a, vec_id_b, cos_milli): MUTUAL nearest-neighbor pairs —
    (a, b) kept iff b is a's top-1 cosine neighbor AND a is b's, the
    margin-free bitext-mining / cross-snapshot alignment criterion
    (Artetxe-Schwenk's mutual-NN core): one-sided nearest neighbors are
    hubs, mutual ones are matches.

    Space and exactness: int8-quantized components
    (quantize_embeddings — the SHIPPED quantization, the eval-scores-
    shipped-code rule), EXPLODED to (vec_id, d, v) so the all-pairs
    dot is a codegen'd join+hashagg (the r2 minhash / kmeans explode
    lesson — never an interpreted per-pair fold at n² pairs); integer
    dots, _isqrt norms, and a SIGN-PEELED cos_milli (Spark div
    truncates, DuckDB // floors — they only agree on non-negatives,
    the r4 rule).  Top-1 rank = (cos_milli DESC, vec_id ASC) — fully
    integer, no 4dp float convention needed.  Zero-norm vectors are
    excluded (no cosine direction — the quantized_knn rule).

    Scale: this is the exact-pairing BASELINE, guarded by
    MAX_EXACT_PAIR_ROWS (the knn_bruteforce refusal pattern); at corpus
    scale produce candidates with embedding_lsh/ivf first and run
    mutual-NN within buckets.

    r6 optimization (guide §8 / §4.2): the r5 plan exploded to
    (vec_id, d, v) and joined on d — a codegen'd hashagg, but the join
    materialized n²·d/2 intermediate rows (128M at sf0.1) and shuffled
    the half-pair table (24-27 s warm).  Every decision here depends
    only on the quantized matrix — n × ndim int8-range ints, bounded by
    the refusal guard to ≲10 MB — so the matrix now rides to every task
    as ONE broadcast and each task computes its batch's integer dot
    block as a single float64 GEMM (exact: every partial sum ≤
    ndim·127² ≪ 2^53, so f64 adds are exact and order-free — identical
    integers to the hashagg fold by associativity).  The per-row top-1
    ((cos_milli DESC, vb ASC) — argmax over ascending-id columns picks
    the first, i.e. lowest-id, maximum) leaves the task; only n top-1
    rows reach the mutual self-join.  Warm 24.1 s → ~1 s at sf0.1
    (plans/r06/mutual_nn_pairs_*.txt).  No reused subtree is left, so
    nothing is pinned."""
    if not force:
        _refuse_above(
            emb,
            MAX_EXACT_PAIR_ROWS,
            "mutual_nn_pairs",
            "The all-pairs integer dot is O(n^2 d); bucket with "
            "embedding_lsh/ivf first at scale,",
        )
    spark = emb.sparkSession
    q = quantize_embeddings(emb).select("vec_id", "qvec")
    # bounded collect: ≤ MAX_EXACT_PAIR_ROWS rows × ndim small ints —
    # the same bytes an F.broadcast build would ship; this IS the
    # broadcast build (guide §3.2 manual-filter pattern)
    rows = sorted(q.collect(), key=lambda r: r["vec_id"])
    ids, vecs, nrms = [], [], []
    for r in rows:
        v = r["qvec"]
        s = sum(x * x for x in v)
        if s > 0:  # zero-norm vectors have no cosine direction
            ids.append(r["vec_id"])
            vecs.append(v)
            nrms.append(math.isqrt(s))  # == _isqrt (exact floor sqrt)
    out_schema = "va long, vb long, cos_milli long"
    if len(ids) < 2:
        empty = spark.createDataFrame([], out_schema)
        return empty.select(
            F.col("va").alias("vec_id_a"),
            F.col("vb").alias("vec_id_b"),
            "cos_milli",
        )
    idv = np.asarray(ids, dtype=np.int64)
    mat = np.asarray(vecs, dtype=np.float64)
    nrm = np.asarray(nrms, dtype=np.int64)
    bc = spark.sparkContext.broadcast((idv, mat, nrm))

    def _top1(batches):
        idv_b, mat_b, nrm_b = bc.value
        n = len(idv_b)
        i64min = np.iinfo(np.int64).min
        for pdf in batches:
            va = pdf["vec_id"].to_numpy()
            pos = np.searchsorted(idv_b, va)
            ok = (pos < n) & (idv_b[np.minimum(pos, n - 1)] == va)
            va, pos = va[ok], pos[ok]
            if len(va) == 0:
                continue
            # exact integer dots via f64 GEMM (see docstring)
            dots = (mat_b[pos] @ mat_b.T).astype(np.int64)
            den = np.maximum(nrm_b[pos, None] * nrm_b[None, :], 1)
            cos = np.where(dots < 0, -1, 1) * (np.abs(dots) * 1000 // den)
            cos[np.arange(len(va)), pos] = i64min  # exclude self
            best = np.argmax(cos, axis=1)  # first max = lowest vb
            yield pd.DataFrame(
                {
                    "va": va,
                    "vb": idv_b[best],
                    "cos_milli": cos[np.arange(len(va)), best],
                }
            )

    nparts = max(
        1, min(len(ids), spark.sparkContext.defaultParallelism)
    )
    t1 = (
        q.select("vec_id")
        .repartition(nparts)
        .mapInPandas(_top1, out_schema)
        # n top-1 rows feed BOTH sides of the mutual self-join — cut the
        # lineage so the GEMM pass runs once (the pagerank lesson)
        .localCheckpoint()
    )
    t2 = t1.select(F.col("va").alias("vb2"), F.col("vb").alias("va2"))
    return (
        t1.join(
            t2,
            (t1["vb"] == t2["vb2"]) & (t1["va"] == t2["va2"]),
        )
        .filter(F.col("va") < F.col("vb"))
        .select(
            F.col("va").alias("vec_id_a"),
            F.col("vb").alias("vec_id_b"),
            "cos_milli",
        )
    )


def dp_release(
    docs: DataFrame,
    group_col: str = "source",
    epsilon_milli: int = 1000,
    salt: str = "dp0",
) -> DataFrame:
    """(source, n_true, noise_micro, noisy_micro): ε-differentially-
    private count release per group — Laplace(1/ε) noise via the
    inverse CDF over a salted md5 uniform, completing the privacy
    family (k_anonymity/l_diversity/t_closeness measure risk; this is
    the RELEASE mechanism).  n_true rides along because this is the
    oracle-checked engine row — a production release projects it away
    (documented; the mechanism's privacy holds for noisy_micro alone).

    Determinism & exactness: u = (h + 0.5)/2^32 from the first 8 md5
    hex digits of salt:group (never two draws per group — one hash,
    one noise value; salted redraws per release, the weighted_sample
    convention).  The inverse CDF noise = −(1/ε)·sgn(2u−1)·
    ln(1−|2u−1|) is staged as ln of the INTEGER ratio
    (2^32 − v)/2^32 with v = |2h + 1 − 2^32| odd (never zero — u can
    never be exactly ½, and v < 2^32 keeps the ratio > 0), floored to
    micro PER GROUP before any
    arithmetic meets another row — no aggregation-order exposure at
    all, only ln's documented 1-ulp-near-floor wiggle
    (unigram_surprisal caveat).  Sign applied AFTER the floor
    (magnitude-peel — the zipf_fit signed rule).

    Scale: one map-side-combinable groupBy + a narrow projection;
    noise is per-GROUP, so the hash work is group-cardinality, not
    corpus."""
    if not 1 <= epsilon_milli <= 100_000:
        raise ValueError("dp_release: epsilon_milli in [1, 100000]")
    cnt = docs.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    h = F.expr(
        f"conv(substring(md5(concat('{salt}:', source)), 1, 8), 16, 10)"
    ).cast("long")
    staged = cnt.select(
        "source",
        "n_true",
        h.alias("__h"),
    ).select(
        "source",
        "n_true",
        (F.lit(2) * F.col("__h") + 1 - F.lit(2**32)).alias("__s"),
    )
    mag = F.floor(
        F.lit(1000.0)
        / F.lit(float(epsilon_milli))
        * -F.log(
            (F.lit(2**32) - F.abs(F.col("__s"))).cast("double")
            / F.lit(float(2**32))
        )
        * F.lit(1_000_000.0)
    ).cast("long")
    return staged.select(
        "source",
        "n_true",
        (
            F.when(F.col("__s") < 0, -1).otherwise(1) * mag
        ).cast("long").alias("noise_micro"),
        (
            F.col("n_true") * F.lit(1_000_000)
            + F.when(F.col("__s") < 0, -1).otherwise(1) * mag
        ).cast("long").alias("noisy_micro"),
    )


def snapshot_line_diff(
    snaps: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_bound: int = 2**42,
) -> DataFrame:
    """(key, pair_idx, n_added, n_removed, n_kept): line-level content
    churn between CONSECUTIVE snapshots of each key — the incremental-
    crawl analytics a recrawl scheduler reads above the binary
    changed/unchanged digest (recrawl_priority): how MUCH of a page
    turns over per fetch.  Lines are the DISTINCT newline-split pieces
    (set diff — a line repeated within one snapshot counts once,
    documented); pair_idx = 1 pairs the two oldest snapshots.

    Determinism: the per-key snapshot order is the packed (ts, id)
    argsort (the recrawl_priority lesson — the revisit fixture is
    tie-heavy on ts, ids break ties); packing violations raise PER ROW
    (the cdc_apply AQE lesson).  All counts — engine-exact.

    Scale: one explode + distinct over the line stream, one per-key
    window for ranks (partitioned by key — never a global sort), one
    full-outer self-join on (key, pair, line) co-partitioned by the
    join key; at crawl scale lines can be pre-hashed to xxhash64 to
    shrink the shuffle (the diff only needs equality)."""
    ts = F.col(ts_col).cast("long")
    idc = F.col(id_col).cast("long")
    packed = F.when(
        (ts >= 0) & (ts < F.lit(ts_bound)) & (idc >= 0) & (idc < F.lit(2**20)),
        ts * F.lit(2**20) + idc,
    ).otherwise(
        F.raise_error(
            F.lit(
                "snapshot_line_diff: ts/id null or outside packing "
                f"bounds (0<=ts<{ts_bound}, 0<=id<2^20)"
            )
        ).cast("long")
    )
    base = snaps.select(
        F.col(key_col).alias("key"), packed.alias("__p"), F.col(text_col).alias("__t")
    )
    w = Window.partitionBy("key").orderBy("__p")
    ranked = base.withColumn("rank", F.row_number().over(w))
    lines = (
        ranked.select(
            "key", "rank", F.explode(F.split("__t", "\n")).alias("line")
        )
        .filter(F.col("line") != "")
        .distinct()
    )
    prev = lines.select("key", F.col("rank").alias("pair_idx"), "line")
    cur = lines.filter(F.col("rank") >= 2).select(
        "key", (F.col("rank") - 1).alias("pair_idx"), "line",
        F.lit(1).alias("__c"),
    )
    joined = prev.withColumn("__pv", F.lit(1)).join(
        cur, ["key", "pair_idx", "line"], "full_outer"
    )
    # pair_idx p exists only when snapshot p+1 exists: prev-side rows at
    # the newest rank have no matching cur snapshot at all — drop pairs
    # beyond the per-key max rank - 1
    nmax = ranked.groupBy("key").agg(
        (F.max("rank") - 1).alias("__maxpair")
    )
    return (
        joined.join(nmax, "key")
        .filter(F.col("pair_idx") <= F.col("__maxpair"))
        .groupBy("key", "pair_idx")
        .agg(
            F.sum(
                (F.col("__pv").isNull() & F.col("__c").isNotNull()).cast("long")
            ).cast("long").alias("n_added"),
            F.sum(
                (F.col("__pv").isNotNull() & F.col("__c").isNull()).cast("long")
            ).cast("long").alias("n_removed"),
            F.sum(
                (F.col("__pv").isNotNull() & F.col("__c").isNotNull()).cast("long")
            ).cast("long").alias("n_kept"),
        )
    )


def hub_removal_impact(
    edges: DataFrame, seeds: DataFrame, k: int = 10, max_depth: int = 6
) -> DataFrame:
    """Two-row card (variant, n_nodes, n_edges, n_reached): multi-source
    seed reach on the full graph vs the graph with the top-k
    OUT-DEGREE hubs removed — the resilience question a crawl/link
    infrastructure asks before trusting shortcuts (what does a hub
    outage or a spam-hub takedown do to frontier coverage?).  Node
    removal semantics: every edge touching a hub drops, and seeds that
    ARE hubs drop with them.  Top-k is deterministic: (out-degree DESC,
    src ASC) — degree ties resolve to smaller ids (documented).

    Reach is bfs_levels' multi-source min-dist within max_depth over
    the DEDUPED directed edge set (multi-edges don't change
    reachability; dedup makes n_edges well-defined).  All counts —
    engine-exact.

    Scale: degree = one map-side-combinable groupBy; top-k =
    TakeOrderedAndProject (k rows, broadcast into the anti-joins);
    two bounded BFS chains (the bfs_levels cost shape, latency-bound);
    the card aggregates are one-row crossJoins."""
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    hubs = (
        deg.orderBy(F.col("deg").desc(), F.col("src").asc())
        .limit(k)
        .select(F.col("src").alias("hub"))
        .localCheckpoint()
    )
    e_cut = e.join(
        F.broadcast(hubs.select(F.col("hub").alias("src"))), "src", "left_anti"
    ).join(
        F.broadcast(hubs.select(F.col("hub").alias("dst"))), "dst", "left_anti"
    )
    seeds = seeds.select(F.col("node").cast("long").alias("node")).distinct()
    seeds_cut = seeds.join(
        F.broadcast(hubs.select(F.col("hub").alias("node"))),
        "node",
        "left_anti",
    )

    def card(label, ee, ss):
        nodes = ee.select(F.col("src").alias("n")).unionByName(
            ee.select(F.col("dst").alias("n"))
        ).distinct()
        a = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        b = ee.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        c = bfs_levels(ee, ss, max_depth).agg(
            F.count(F.lit(1)).cast("long").alias("n_reached")
        )
        return (
            a.crossJoin(F.broadcast(b))
            .crossJoin(F.broadcast(c))
            .select(
                F.lit(label).alias("variant"),
                "n_nodes",
                "n_edges",
                "n_reached",
            )
        )

    # r6 (guide §2.6 overlap independent jobs): the two BFS chains are
    # independent and latency-bound (max_depth eager checkpoint rounds
    # each) — building them from two driver threads lets round jobs of
    # one chain back-fill the other's stragglers.  Results identical;
    # job descriptions are thread-local so the UI stays readable;
    # inheritable_thread_target keeps the caller's job group and tags.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    spark = edges.sparkSession
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_full = ex.submit(inheritable_thread_target(spark)(card), "full", e, seeds)
        f_cut = ex.submit(
            inheritable_thread_target(spark)(card), "hubs_removed", e_cut, seeds_cut
        )
        return f_full.result().unionByName(f_cut.result())


def quality_percentile_by_source(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(doc_id, source, qa_milli, pct_milli): per-SOURCE percentile rank
    of the alpha-ratio quality score — the fair-threshold primitive: a
    global quality cut silently deletes whole sources whose score
    DISTRIBUTION sits lower (different language, different register),
    while a per-source percentile cut ('drop every source's bottom
    20%') removes the same share everywhere.  qa_milli is the
    curation_v9 alpha-ratio convention (letters·1000 div (len+1));
    pct_milli = (rank−1)·1000 div (n_source−1), rank ordered by
    (qa ASC, doc_id ASC) — the id tiebreak makes tied scores
    deterministic cross-engine (the recrawl_priority rule).
    Single-doc sources report pct 0 (no distribution to rank in).

    Scale: ONE window per source partition (the exchange is on source —
    the column the corpus is naturally bucketed by) and a broadcastable
    per-source count join; no global sort, all integer."""
    qa = F.expr(
        f"length(regexp_replace({text_col}, '[^a-zA-Z]', '')) * 1000"
        f" div (length({text_col}) + 1)"
    )
    base = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id", F.col(source_col).alias("source"), qa.alias("qa_milli")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("qa_milli").asc(), F.col("doc_id").asc()
    )
    nsrc = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    return (
        base.withColumn("__rk", F.row_number().over(w))
        .join(F.broadcast(nsrc), "source")
        .select(
            "doc_id",
            "source",
            "qa_milli",
            F.expr("(__rk - 1) * 1000 div greatest(__n - 1, 1)")
            .cast("long")
            .alias("pct_milli"),
        )
    )


def label_centroid_profile(
    emb: DataFrame,
    label_col: str = "label",
    q: int = 1000,
    ndim: int = 64,
    scale: int = 100,
) -> DataFrame:
    """(label, n, cos_micro, top_dim, top_delta_micro): per-cluster
    centroid card — each label's mean vector compared against the
    GLOBAL mean (cosine + the dimension deviating most), the
    cluster-profiling readout after any bucketing (kmeans labels, data
    sources, language groups): which clusters point away from the
    corpus and along which axis.

    Same integer staging as embedding_drift (the 2-group special
    case): clamp-quantized components, offset floor-div means in
    scale-units (|mean| ≤ q·scale — corpus-size-independent, counts
    cancel), _isqrt norms, sign-peeled clamped cos_micro, packed
    argmax for the top dimension.  Empty input raises via the
    div-guard.

    Scale: ONE pass over the exploded stream (groupBy (label, d) is
    map-side combinable); everything after runs on labels × ndim
    rows."""
    if 1_000_000 % (q * scale) != 0:
        raise ValueError("label_centroid_profile: q*scale must divide 1e6")
    dims = _quant_dims(emb, q, ndim, carry=(label_col,))
    per = dims.groupBy(label_col, "d").agg(
        F.sum("val").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("__cnt"),
    )
    glob = dims.groupBy("d").agg(
        F.sum("val").cast("long").alias("gs"),
        F.count(F.lit(1)).cast("long").alias("__gcnt"),
    )
    off = q * scale
    gm = glob.select(
        "d",
        (
            F.expr(f"(gs * {scale} + {off} * __gcnt) div __gcnt") - F.lit(off)
        ).alias("gmean"),
    )
    lm = per.select(
        label_col,
        "d",
        "__cnt",
        (
            F.expr(f"(s * {scale} + {off} * __cnt) div __cnt") - F.lit(off)
        ).alias("lmean"),
    )
    j = lm.join(F.broadcast(gm), "d")
    # __cnt is the label's vector count repeated per dim — max() is it
    card = j.groupBy(label_col).agg(
        F.max("__cnt").alias("n"),
        F.sum(F.col("lmean") * F.col("gmean")).cast("long").alias("dot"),
        F.sum(F.col("lmean") * F.col("lmean")).cast("long").alias("sqa"),
        F.sum(F.col("gmean") * F.col("gmean")).cast("long").alias("sqb"),
        F.max(
            F.abs(F.col("lmean") - F.col("gmean")) * 128
            + (F.lit(127) - F.col("d"))
        ).alias("__pk"),
    )
    staged = card.select(
        F.col(label_col).alias("label"),
        "n",
        "dot",
        "__pk",
        F.greatest(
            _isqrt(F.col("sqa")) * _isqrt(F.col("sqb")), F.lit(1)
        ).alias("__den"),
        (F.abs(F.col("dot")) * F.lit(1_000_000)).alias("__mag"),
    )
    return staged.select(
        "label",
        "n",
        (
            F.when(F.col("dot") < 0, -1).otherwise(1)
            * F.least(F.expr("__mag div __den"), F.lit(1_000_000))
        )
        .cast("long")
        .alias("cos_micro"),
        (F.lit(127) - F.col("__pk") % 128).cast("int").alias("top_dim"),
        (F.expr("__pk div 128") * F.lit(1_000_000 // (q * scale)))
        .cast("long")
        .alias("top_delta_micro"),
    )


def weighted_median_by_group(
    rows: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
    weight_col: str = "w",
    id_col: str = "doc_id",
    value_bound: int = 2**40,
) -> DataFrame:
    """(group, n_rows, w_total, median_value): WEIGHTED median of a
    value per group — the smallest value whose cumulative weight
    reaches half the group's total (lower weighted median, the
    size-aware robust center: a mean quality score lets one huge
    low-quality page drag the source down, an unweighted median lets a
    thousand near-empty stubs dominate it; weighting by size gives the
    'median byte' its score).

    Integer rule: order by (value ASC, id ASC) — the id tiebreak makes
    tied values deterministic (the recrawl_priority rule); the median
    row is the FIRST with 2·cumw ≥ W (cross-multiplied, no division).
    Because cumw is monotone in that order, the satisfying set is a
    suffix, so min() over the packed (value, id) key of satisfying
    rows IS that first row — a min-min objective, no complement needed
    (the revisit_records rule).  Packing violations raise per row.

    Scale: one per-group window (exchange on the group key) + one
    map-side-combinable groupBy; no global sort."""
    v = F.col(value_col).cast("long")
    i = F.col(id_col).cast("long")
    packed = F.when(
        (v >= 0) & (v < F.lit(value_bound)) & (i >= 0) & (i < F.lit(2**20)),
        v * F.lit(2**20) + i,
    ).otherwise(
        F.raise_error(
            F.lit(
                "weighted_median_by_group: value/id null or outside "
                f"packing bounds (0<=value<{value_bound}, 0<=id<2^20)"
            )
        ).cast("long")
    )
    base = rows.select(
        F.col(group_col).alias("grp"),
        packed.alias("__p"),
        F.col(weight_col).cast("long").alias("__w"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("__cw", F.sum("__w").over(w))
    tot = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("__w").cast("long").alias("w_total"),
    )
    med = (
        cum.join(tot, "grp")
        .filter(2 * F.col("__cw") >= F.col("w_total"))
        .groupBy("grp", "n_rows", "w_total")
        .agg(F.min("__p").alias("__mp"))
    )
    return med.select(
        F.col("grp").alias(group_col),
        "n_rows",
        "w_total",
        F.shiftright("__mp", 20).alias("median_value"),
    )


def host_path_entropy(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, n_urls, n_templates, entropy_micro, top_share_milli):
    per-host entropy of the URL path-TEMPLATE distribution — the
    crawler-trap / infinite-space indicator one level above
    url_templates: a host whose URLs all collapse into one template
    (top_share ~1000, entropy ~0) is a catalog or a trap; a diverse
    host spreads.  Schemeless rows (host NULL) are excluded — the
    cdx_index false-merge rule.

    Exactness: H = ln(N) − (Σ c·ln c)/N staged integer — ONE
    transcendental per TEMPLATE quantized to micro-nats BEFORE the
    sum (floor(c·ln(c)·1e6); c = 1 contributes exactly 0), one per
    host for ln(N); the float trees are spelled identically in both
    engines (the dp_release rule), integer sums and divisions after.

    Scale: rides url_templates' single (host, template) groupBy; the
    entropy pass aggregates template-cardinality rows only."""
    t = url_templates(urls, url_col=url_col, min_count=1).filter(
        F.col("host").isNotNull()
    )
    c = F.col("n_urls").cast("long")
    clnc = F.floor(
        c.cast("double") * F.log(c.cast("double")) * F.lit(1_000_000.0)
    ).cast("long")
    per = t.select("host", c.alias("c"), clnc.alias("clnc"))
    agg = per.groupBy("host").agg(
        F.sum("c").cast("long").alias("n_urls"),
        F.count(F.lit(1)).cast("long").alias("n_templates"),
        F.max("c").cast("long").alias("__maxc"),
        F.sum("clnc").cast("long").alias("__clnc"),
    )
    lnn = F.floor(
        F.log(F.col("n_urls").cast("double")) * F.lit(1_000_000.0)
    ).cast("long")
    return agg.select(
        "host",
        "n_urls",
        "n_templates",
        (lnn - F.expr("__clnc div n_urls")).cast("long").alias(
            "entropy_micro"
        ),
        F.expr("__maxc * 1000 div n_urls").cast("long").alias(
            "top_share_milli"
        ),
    )
