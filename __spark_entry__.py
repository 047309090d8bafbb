"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full HTML main-content extraction
(decode → DOM → tagFiltering → text-density) over pages synthesized from
sf0.001 documents, via one repartition + one mapInPandas stage.

``queries()`` — one entry per implemented operator family:
 * extraction (SURVEY.md §2: T1-T15, F1-F9, D1-D3, P1-P3, K1-K2) — the
   non-SQL core, checked rows-only here and byte-level in tests/;
   `extract_roundtrip` additionally routes the FULL extraction pipeline
   through a DuckDB-predictable fixture so the extraction path itself is
   value-checked by the driver;
 * training-data pipeline ops (dedup exact/MinHash-LSH/SimHash/Jaccard/
   embedding-cosine, ANN top-k, language-ID, quality, token counts,
   fingerprints, multimodal plumbing) — oracle-checked where expressible.

All oracle-checked queries avoid engine-specific hashes (md5/sha256 only),
use integer outputs where possible, and round the few doubles to 4dp.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from contentextractor_spark.functions import analysis as A  # noqa: E402
from contentextractor_spark.functions import events as E  # noqa: E402
from contentextractor_spark.functions import relational as R  # noqa: E402
from contentextractor_spark.plans.pipeline import (  # noqa: E402
    PAGES_SCHEMA,
    extract_pages,
    lineage_metrics,
)
from contentextractor_spark.sources.pages import generate_pages  # noqa: E402

FLAGSHIP_N_PAGES = 200


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def pagerank_edges_sql(docs: DataFrame) -> DataFrame:
    """Deterministic affine link graph over the doc-id space: 3 out-links
    per doc, dst = (doc_id*31 + 7j) mod N, self-loops dropped; N is
    data-driven via a one-row broadcast so the same construction runs at
    every sf.  ONE definition shared by the pagerank_links driver row AND
    bench.py — a drifting copy would silently bench a different workload
    than the driver checks (r3 session-2 review)."""
    n = docs.select(F.count(F.lit(1)).alias("n"))
    dsts = F.array(
        *[(F.col("doc_id") * 31 + 7 * j) % F.col("n") for j in (1, 2, 3)]
    )
    return (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(F.col("doc_id").alias("src"), F.explode(dsts).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _revisit_snaps(docs: DataFrame) -> DataFrame:
    """The recrawl-fetch fixture shared by warc_revisit AND curation_v7
    (one definition — the oracle-reuse rule): 5 fetches per url, ts TIES
    on doc_id pairs, content digest (doc_id%4) div 2 so each url group
    mixes identical and changed content."""
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("u"), F.expr("doc_id div 5").cast("string")
        ).alias("url"),
        F.expr("((doc_id div 2) * 37) % 1000").alias("ts"),
        F.expr("(doc_id % 4) div 2").cast("string").alias("digest"),
    )


def _http_hdr_expr():
    """RFC 1123 Last-Modified builder shared by http_dates AND
    curation_v7: wrong weekday on purpose (RFC 7231 tolerance),
    doc_id%17==0 malformed."""
    months = (
        "array('Jan','Feb','Mar','Apr','May','Jun',"
        "'Jul','Aug','Sep','Oct','Nov','Dec')"
    )
    return F.expr(
        "case when doc_id % 17 = 0 then 'not-a-date' else"
        " format_string('Mon, %02d %s 2024 %02d:%02d:%02d GMT',"
        "  cast(doc_id % 28 + 1 as int),"
        f"  element_at({months}, cast((doc_id div 28) % 12 as int) + 1),"
        "  cast(doc_id % 24 as int), cast((doc_id * 7) % 60 as int),"
        "  cast((doc_id * 13) % 60 as int)) end"
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _chord_community_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted 10-node community graph over documents: intra-group
    chords +1/+2/+3 (mod 10 within each doc_id-div-10 block) plus one
    bridge from each group head (doc_id % 10 == 0) to the next group —
    the shared fixture of label_communities and modularity_eval (ONE
    builder, the oracle-reuse rule; the SQL twin is the `le` CTE in
    both oracles)."""
    docs = _docs(spark, sf_dir)
    n = docs.select(F.count(F.lit(1)).alias("n"))
    off = F.col("doc_id") - F.expr("doc_id div 10") * 10
    intra = F.array(
        *[
            F.expr("doc_id div 10") * 10 + (off + j) % 10
            for j in range(1, 4)
        ]
    )
    dsts = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(intra, F.array((F.col("doc_id") + 10) % F.col("n"))),
    ).otherwise(intra)
    return (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(F.col("doc_id").alias("src"), F.explode(dsts).alias("dst"))
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the driver builds its own session; pin its timezone so hour
    # truncation / timestamp rendering match DuckDB's naive-timestamp view
    # on any host TZ (build_spark pins the same for in-repo sessions)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _synthetic_pages(spark: SparkSession, n: int = FLAGSHIP_N_PAGES) -> DataFrame:
    return spark.createDataFrame(generate_pages(n, seed=42), schema=PAGES_SCHEMA)


# extract_flagship / extract_spans / extract_lineage all derive from the SAME
# extraction of the same 200 synthetic pages; share one persisted run per
# SparkSession so the driver's three calls don't re-extract 3× (VERDICT r1 #7)
_FLAGSHIP_CACHE: dict[str, DataFrame] = {}


def _flagship_extracted(spark: SparkSession) -> DataFrame:
    key = spark.sparkContext.applicationId
    df = _FLAGSHIP_CACHE.get(key)
    if df is None:
        df = extract_pages(_synthetic_pages(spark), num_buckets=8).persist()
        df.count()  # materialize once, eagerly
        _FLAGSHIP_CACHE.clear()  # don't pin caches of dead sessions
        _FLAGSHIP_CACHE[key] = df
    return df


# The extraction density alphabet (TextExtract.java:300-301): ASCII \w +
# full-width digits/upper/lower + CJK + kana.  The eligibility gate counts
# THESE chars (not merely non-space), and excludes texts hitting the T14
# skip regex — so the `main_text == trim(text)` oracle holds by construction
# for any alphabet, not just the current ASCII fixtures (ADVICE r1).
_KEEP_NEG = "[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]"
_SKIP_RE = "(記事一覧|利用規約|Copyright)"
# SQL twin of the gate (DuckDB regexp_replace needs the 'g' flag)
_ELIGIBLE_SQL = (
    "length(regexp_replace(text, '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g')) >= 18"
    " AND NOT regexp_matches(text, '(記事一覧|利用規約|Copyright)')"
)


def _eligible(docs: DataFrame) -> DataFrame:
    """Docs whose text survives the full pipeline verbatim: >= 18 kept-set
    chars (single-block threshold round(len/4+0.5) >= MIN_TOKENS=5) and no
    skip-regex hit (T14 drops those lines)."""
    kept = F.length(F.regexp_replace("text", _KEEP_NEG, ""))
    return docs.filter((kept >= 18) & ~F.col("text").rlike(_SKIP_RE))


def _pages_from_inner(docs: DataFrame, inner) -> DataFrame:
    """(doc_id, <html><body><div><p>{inner}</p></div></body></html>) pages."""
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><div><p>"),
                inner,
                F.lit("</p></div></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )


def _docs_as_pages(docs: DataFrame) -> DataFrame:
    """Wrap documents.text in a minimal page so the FULL extraction pipeline
    runs over DuckDB-predictable input (oracle: main_text == trim(text))."""
    return _pages_from_inner(_eligible(docs), F.col("text"))


# --- adversarial pages (VERDICT r1 #1): the same trim(text) oracle, but the
# pipeline must EARN it — each wrapper leaks into main_text (breaking the
# value hash) if the named operator is stubbed out or regresses. ------------

# F2: parent-of-トピックス removal (ContentExtractor.java:302-305).  The junk
# line is ~630 dense chars, denser than nearly every fixture doc: if it
# leaks, it forms the max-density block and evicts the real text from the
# two-block threshold.
_TOPIC_BLOCK = "<div><div>トピックス</div><p>" + "topicjunk" * 70 + "</p></div>"
# F1/F3-F8 inline junk INSIDE the text's own <p>: any leak lands on the same
# emitted line as the text, so a single surviving span breaks the hash.  The
# non-link junk totals >100 kept chars, which also pins F1's keep-verdict on
# the wrapping <div> (node_txt - a_txt >= 100) independent of text length.
_INLINE_JUNK = (
    '<span style="font-size:9px">tinyfontjunkthatmustvanish</span>'      # F8
    '<span style="display:none">hiddenstylejunkthatmustvanish</span>'    # F5
    '<span id="ad_block_1">idregexjunkthatmustvanish</span>'             # F3
    '<span class="navi">classregexjunkthatmustvanish</span>'             # F4
    "<script>scriptjunkthatmustvanish</script>"                          # F6
    '<span data-tipso="tip">tipsojunkthatmustvanish</span>'              # F6
    '<span><a href="/a">farmlinkone</a><a href="/b">farmlinktwo</a></span>'  # F1
    '<a href="/next">次へ</a>'                                            # F7
)

# T13/T14 multi-block selection: junk paragraphs with EXACT kept-lengths
# 22 → density 6 and 30 → density 8.  With the text block denser than both,
# cal_threshold returns the max (n=2: d[1]; n=3: the idx=n-1 promotion), so
# ONLY the text block survives selection — if threshold selection breaks,
# a junk block is emitted and the hash breaks.
_BLOCK_J1 = "<div><p>" + "j" * 22 + "</p></div>"   # density 6
_BLOCK_J2 = "<div><p>" + "k" * 30 + "</p></div>"   # density 8

# T8: HTML-4.0 entities the emitted line must carry through unescaped.
_ENT_HTML = " &amp; &lt;b&gt; &copy;&nbsp;&hellip;"
_ENT_TEXT = " & <b> © …"

# D1/D2: a fixed JP suffix so the non-UTF-8 decode is observable.
_JP_SUFFIX = "　日本語のテキスト確認"
_ASCII_RE = "^[ -~]*$"
_SJIS_PRE = "<html><body><div><p>".encode("shift_jis")
_SJIS_POST = (_JP_SUFFIX + "</p></div></body></html>").encode("shift_jis")
_ISO2022_PRE = (
    '<html><head><meta http-equiv="Content-Type" '
    'content="text/html; charset=ISO-2022-JP"></head><body><div><p>'
).encode("ascii")
_ISO2022_POST = (_JP_SUFFIX + "</p></div></body></html>").encode("iso2022_jp")

# the GAUNTLET: every trap at once — Shift_JIS bytes + meta override +
# topic block + inline F1-F8 junk + a 5-<br> run + entities + JP suffix.
# main_text = first_word \n ltrim(rest) + entities + suffix iff D1/D2,
# F1-F8, T3/T4 and T8 all work together on one page.
_GAUNTLET_PRE = (
    '<html><head><meta http-equiv="Content-Type" '
    'content="text/html; charset=Shift_JIS"></head><body>'
    + _TOPIC_BLOCK
    + "<div><p>"
    + _INLINE_JUNK
).encode("shift_jis")
_GAUNTLET_BR = "<br><br>　 <br/><br ><br>".encode("shift_jis")
_GAUNTLET_POST = (
    _ENT_HTML + _JP_SUFFIX + "</p></div></body></html>"
).encode("shift_jis")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001: full extraction pipeline."""
    sf_dir = "/root/testdata/sf0.001"
    pages = _docs_as_pages(_docs(spark, sf_dir))
    out = extract_pages(pages, num_buckets=8)
    return out.select("url", "title", "main_text", "threshold", "status")


def _pdf_pages_sql(docs: DataFrame) -> DataFrame:
    """Spark-SQL twin of pdfparse.build_pdf([line1, line2],
    reverse_stream=True): an honest single-page PDF (REAL xref byte
    offsets, computed with length arithmetic) whose content stream emits
    the lower line FIRST — only a layout-aware extractor recovers reading
    order.  Byte-identical to the Python builder (differential-tested in
    tests/test_pdfparse.py).  line1 = 'Document <doc_id>', line2 = text;
    input must be ASCII (no parens/backslash → no string escaping needed).
    """
    from contentextractor_spark.operators.pdfparse import FIXED_OBJS

    line1 = F.concat(F.lit("Document "), F.col("doc_id").cast("string"))
    line2 = F.col("text")
    stream = F.concat(
        F.lit("BT\n/F1 12 Tf\n1 0 0 1 72 704 Tm\n("),
        line2,
        F.lit(") Tj\n1 0 0 1 72 720 Tm\n("),
        line1,
        F.lit(") Tj\nET"),
    )
    slen = F.length(stream)  # ASCII ⇒ chars == bytes
    head = "%PDF-1.4\n"
    objs = [o.decode("latin-1") for o in FIXED_OBJS]
    o1s = "1 0 obj\n" + objs[0] + "\nendobj\n"
    o2s = "2 0 obj\n" + objs[1] + "\nendobj\n"
    o3s = "3 0 obj\n" + objs[2] + "\nendobj\n"
    o4_pre = "4 0 obj\n<< /Length "
    o4_mid = " >>\nstream\n"
    o4_post = "\nendstream\nendobj\n"
    o5s = "5 0 obj\n" + objs[3] + "\nendobj\n"
    off = [len(head)]
    for part in (o1s, o2s, o3s):
        off.append(off[-1] + len(part))
    # variable offsets: obj5 follows the stream object, xref follows obj5
    slen_digits = F.length(slen.cast("string"))
    off5 = (
        F.lit(off[3] + len(o4_pre) + len(o4_mid) + len(o4_post))
        + slen_digits
        + slen
    )
    xref_pos = off5 + F.lit(len(o5s))
    pdf_str = F.concat(
        F.lit(head + o1s + o2s + o3s + o4_pre),
        slen.cast("string"),
        F.lit(o4_mid),
        stream,
        F.lit(o4_post + o5s),
        F.lit("xref\n0 6\n0000000000 65535 f \n"),
        F.lit("".join(f"{o:010d} 00000 n \n" for o in off)),
        F.format_string("%010d 00000 n \n", off5),
        F.lit("trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n"),
        xref_pos.cast("string"),
        F.lit("\n%%EOF\n"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(pdf_str, "UTF-8").alias("pdf"),
    )


# safe PDF-literal alphabet: no ( ) \ — the SQL builder skips escaping
_PDF_SAFE_RE = "^[A-Za-z0-9_ ]+$"

_WARC_DATE = "2024-01-01T00:00:00Z"


def _warc_segments_sql(docs: DataFrame, n_segments: int = 50) -> DataFrame:
    """Spark-SQL twin of sources/warc.build_warc: ~n_segments multi-record
    WARC buffers, each holding the HTML-wrapped pages of pmod(doc_id)-
    grouped documents (sorted record order → deterministic bytes;
    byte-compatibility differential-tested in tests/test_warc.py).
    Content-Length counts BYTES (octet_length) — the html wrap carries the
    doc text verbatim, CJK included."""
    html = F.concat(
        F.lit("<html><body><div><p>"),
        F.col("text"),
        F.lit("</p></div></body></html>"),
    )
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        F.col("doc_id").cast("string"),
        F.lit("\r\nWARC-Date: " + _WARC_DATE + "\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    return (
        docs.select(
            F.pmod(F.col("doc_id"), F.lit(n_segments)).alias("seg_id"),
            rec.alias("rec"),
        )
        .groupBy("seg_id")
        .agg(
            F.encode(
                F.concat_ws("", F.sort_array(F.collect_list("rec"))), "UTF-8"
            ).alias("warc")
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def hll_registers(spark, sf_dir):
        # r4 sketch family: HyperLogLog register table over the 3-gram
        # stream (m = 256 rows however large the corpus — the mergeable
        # cardinality sketch you union across crawls before sizing a
        # dedup shuffle)
        return A.hll_registers(_docs(spark, sf_dir), p=8, n=3)

    def hll_estimate(spark, sf_dir):
        # one-row integer-arithmetic HLL estimate + linear-counting
        # small-range correction (micro-nat ln, surprisal convention)
        return A.hll_estimate(_docs(spark, sf_dir), p=8, n=3)

    def hll_by_lang(spark, sf_dir):
        # per-group sketch-groupBy: distinct 3-gram cardinality estimate
        # PER LANGUAGE, m=256 registers per group, lang carried through
        # the gram explode (no corpus join on the Spark side); the exact
        # integer estimate projection is shared with the global row
        return A.hll_estimate_by_group(
            _docs(spark, sf_dir), group_col="lang", p=8, n=3
        )

    def cms_topk(spark, sf_dir):
        # count-min heavy-hitter terms (stop-word / boilerplate detector):
        # 4x512 integer sketch, est >= true one-sided error surfaced by
        # carrying the exact count alongside.  n=1 because the fixture's
        # 3-grams are near-uniform (max count 8) — the unigram stream has
        # true heavy hitters for the sketch to find; at real scale you
        # size w to the target universe instead.
        return A.cms_topk(_docs(spark, sf_dir), n=1, d=4, w=512, k=20)

    def pq_codes(spark, sf_dir):
        # r4 ANN: product-quantization encoding — 64 floats → 16 6-bit
        # codes per vector (the 21x memory lever past int8's 4x).
        # Codebooks are TRAINED by deterministic integer-space Lloyd
        # iterations (measured: md5-random codebooks rank at 0.06 recall
        # on this data), so the oracle replays the full training
        return A.pq_codes(_emb(spark, sf_dir), m=16, n_centroids=64, iters=2)

    def pq_topk(spark, sf_dir):
        # two-stage PQ search: integer-ADC shortlist (50) over the codes,
        # exact-fold rescore of the shortlist, knn rank convention —
        # measured 0.94 recall@5 vs exact L2
        return A.pq_topk(
            _emb(spark, sf_dir),
            n_queries=10, k=5, m=16, n_centroids=64, iters=2, shortlist=50,
        )

    def ivfpq_topk(spark, sf_dir):
        # the composed 100 TB ANN path (FAISS IVFPQ): fixed-center coarse
        # routing (nprobe 3 of 8 lists) over trained PQ codes + exact
        # rescore — measured 0.82 recall@5 vs exact (the routing caps it;
        # full-scan pq_topk is 0.94)
        return A.ivfpq_topk(_emb(spark, sf_dir))

    def bloom_decontaminate(spark, sf_dir):
        # fixed-size-bitmap leakage check: bench side (doc_id < 20, the
        # decontaminate convention) compresses to a 3x4096 partitioned
        # bloom; bloom_hits >= exact_hits carried per doc so the false-
        # positive margin is observable, never silent
        docs = _docs(spark, sf_dir)
        return A.bloom_decontaminate(
            docs, docs.filter(F.col("doc_id") < 20), n=3, n_hashes=3,
            n_bits=4096,
        )

    def bpe_merges(spark, sf_dir):
        # r4 tokenizer training: the original BPE recipe distributed —
        # corpus compresses to word counts once, then 6 argmax-pair merge
        # steps run on the vocabulary; the learned merge table is the row
        return A.bpe_merges(_docs(spark, sf_dir), n_merges=6)

    def bpe_token_counts(spark, sf_dir):
        # apply the trained BPE by broadcast vocab lookup: per-doc token
        # counts under the learned 6-merge vocabulary
        return A.bpe_token_counts(_docs(spark, sf_dir), n_merges=6)

    _C4_LINES = (
        "concat_ws('\\n', transform("
        " sequence(0, cast(ceil(size(split(text, ' ')) / 6.0) as int) - 1),"
        " i -> concat(concat_ws(' ', slice(split(text, ' '), i * 6 + 1, 6)),"
        " case when pmod(doc_id + i, 2) = 0 then '.' else '' end)))"
    )

    def c4_line_filter(spark, sf_dir):
        # r4 canonical web-text line filter (C4 §2.2) over SQL-built
        # multi-line pages: words chunked into 6-word lines, alternate
        # lines punctuated (doc_id+i parity), every 11th page planted
        # with 'lorem ipsum' (page gate), every 7th with a punctuated
        # javascript line (line gate must fire DESPITE the punctuation)
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        text2 = F.concat(
            F.expr(_C4_LINES),
            F.when(F.pmod("doc_id", 11) == 0, F.lit("\nlorem ipsum")).otherwise(
                F.lit("")
            ),
            F.when(
                (F.pmod("doc_id", 7) == 0) & (F.pmod("doc_id", 11) != 0),
                F.lit("\nthis page uses javascript heavily right now."),
            ).otherwise(F.lit("")),
        )
        return A.c4_line_filter(
            docs.select("doc_id", text2.alias("text")), min_words=5,
            min_kept_lines=3,
        )

    def ccnet_buckets(spark, sf_dir):
        # r4 CCNet head/middle/tail perplexity terciles per language —
        # nearest-rank tercile cuts by the histogram mechanics, bucket
        # assignment via a broadcast threshold join
        return A.ccnet_buckets(_docs(spark, sf_dir))

    def _bp_built(spark, sf_dir):
        # r5 onion-dedup fixture: every page gets a shared nav header,
        # every even page a shared footer, and two content lines sliced
        # from its own text — all SQL-predictable
        docs = _docs(spark, sf_dir).filter(
            F.col("text").isNotNull()
            & (F.size(F.split("text", " ")) >= 6)
        )
        ws = F.split("text", " ")
        l1 = F.concat_ws(" ", F.slice(ws, 1, 3))
        l2 = F.concat_ws(
            " ", F.expr("slice(split(text, ' '), 4, size(split(text, ' ')) - 3)")
        )
        text2 = F.concat(
            F.lit("top nav menu login\n"), l1, F.lit("\n"), l2,
            F.when(
                F.pmod("doc_id", 2) == 0, F.lit("\n© example corp footer")
            ).otherwise(F.lit("")),
        )
        return docs.select("doc_id", text2.alias("text"))

    def boilerplate_lines(spark, sf_dir):
        # r5 corpus-frequency boilerplate lines (CCNet onion-style): the
        # planted header/footer must surface; content lines must not
        return A.boilerplate_lines(_bp_built(spark, sf_dir), min_docs=50)

    def scrub_boilerplate(spark, sf_dir):
        # r5 scrub: rebuild every page without the corpus-boilerplate
        # lines, order preserved, row count unchanged
        return A.scrub_boilerplate_lines(_bp_built(spark, sf_dir), min_docs=50)

    def latest_snapshot(spark, sf_dir):
        # r5 recrawl dedup: 5 snapshots per canonical url, ts TIES on
        # doc_id pairs (max doc_id must win), packed-bigint argmax
        docs = _docs(spark, sf_dir)
        snaps = docs.select(
            "doc_id",
            F.concat(
                F.lit("u"), F.expr("doc_id div 5").cast("string")
            ).alias("url"),
            F.expr("((doc_id div 2) * 37) % 1000").alias("ts"),
        )
        return A.latest_snapshot(snaps, key_col="url", ts_col="ts",
                                 id_col="doc_id")

    def stopword_lists(spark, sf_dir):
        # r5 session-4: per-lang data-derived stop lists (df >= 60%)
        return A.stopword_lists(_docs(spark, sf_dir), min_df_pct=60)

    def shard_skew_report(spark, sf_dir):
        # r5 session-4: pre-write skew audit under the epoch_shuffle
        # shard convention; skew_milli stamped on every row
        return A.shard_skew_report(_docs(spark, sf_dir), n_shards=32)

    def lsh_eval(spark, sf_dir):
        # r5 session-4: the LSH calibration row — recall/precision of
        # the shipped minhash bucket producer vs the shipped exact
        # jaccard join at threshold 1/2, measured in-engine
        return A.lsh_eval(_docs(spark, sf_dir), num=1, den=2)

    def mirror_hosts(spark, sf_dir):
        # r5 session-4: mirror detection — hosts h0..h19 partition the
        # corpus; m0..m4 clone h0..h4's content (different ids, same
        # text), the pairs the digest join must find
        docs = _docs(spark, sf_dir)
        hostify = lambda p: F.concat(  # noqa: E731
            F.lit(p), F.pmod("doc_id", 20).cast("string")
        )
        base = docs.select(hostify("h").alias("host"), "text")
        mirr = docs.filter(F.pmod("doc_id", 20) < 5).select(
            hostify("m").alias("host"), "text"
        )
        return A.mirror_hosts(base.unionByName(mirr))

    def kmv_sketches(spark, sf_dir):
        # r5 session-4: bottom-k distinct-value sketch per lang — the
        # set-operation-capable sketch next to HLL/CMS
        return A.kmv_sketches(_docs(spark, sf_dir), k=32)

    def kmv_estimate(spark, sf_dir):
        # sub-k langs report EXACT counts (sketch == set), larger ones
        # the (k-1)*2^40 div h_k estimator — both paths exercised
        return A.kmv_estimate(_docs(spark, sf_dir), k=32)

    def kmv_lang_jaccard(spark, sf_dir):
        # pairwise lang-vocabulary resemblance from the merged sketches
        return A.kmv_lang_jaccard(_docs(spark, sf_dir), k=32)

    def curation_v7(spark, sf_dir):
        # r5 session-4 composed crawl-lifecycle chain, ONE SQL oracle:
        # fetch-time dedup (warc_revisit 'response' survivors) →
        # Last-Modified recency gate (http_dates; malformed headers and
        # pre-Jul-2024 docs drop) → Gopher quality gate → per-(lang,
        # shard) dataset digest of the survivors.  The digest makes the
        # whole chain set-dependent: any upstream verdict error moves
        # some cell's (n_rows, content_sum).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        docs = _docs(spark, sf_dir)
        resp = (
            A.revisit_records(_revisit_snaps(docs))
            .filter(F.col("kind") == "response")
            .select("doc_id")
        )
        d1 = docs.join(resp, "doc_id")
        dated = (
            A.parse_http_dates(
                d1.select(
                    "doc_id", _http_hdr_expr().alias("last_modified")
                )
            )
            .filter(F.col("day") >= 19905)  # 2024-07-01
            .select("doc_id")
        )
        d2 = d1.join(dated, "doc_id")
        kept = A.quality_filter(d2).filter(F.col("keep") == 1).select("doc_id")
        d3 = d2.join(kept, "doc_id")
        return A.dataset_digest(d3, n_shards=8)

    def http_dates(spark, sf_dir):
        # r5 session-4: RFC 1123 header normalization — synthesized
        # Last-Modified strings (wrong weekday on purpose: RFC 7231
        # receivers must tolerate it) with doc_id%17==0 malformed rows
        # that must come back NULL, not kill the job
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return A.parse_http_dates(
            _docs(spark, sf_dir).select(
                "doc_id", _http_hdr_expr().alias("last_modified")
            )
        )

    def warc_revisit(spark, sf_dir):
        # r5 session-4: fetch-time dedup — the latest_snapshot fixture's
        # 5-fetches-per-url stream with a (doc_id%4) div 2 content digest
        # (so each url group mixes identical and changed content) and ts
        # TIES on doc_id pairs (min-id must win the 'response' slot)
        return A.revisit_records(
            _revisit_snaps(_docs(spark, sf_dir))
        )

    def scd2_intervals(spark, sf_dir):
        # r5 session-9: SCD-2 version history over the same recrawl
        # fixture — its (doc_id%4) div 2 digest pattern plants the
        # A-B-A return-of-a-digest case (a new version MUST open, not
        # merge with the earlier identical digest) and ts ties force
        # the (ts, doc_id) total order
        return A.scd2_intervals(_revisit_snaps(_docs(spark, sf_dir)))

    def _events_xy(spark, sf_dir):
        # (user_id, epoch-second) projection shared by the z-order pair
        return _events(spark, sf_dir).select(
            "user_id",
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 1000000"
            ).alias("epoch_s"),
        )

    def zorder_layout(spark, sf_dir):
        # r5 session-9: Morton-curve file layout manifest (the lakehouse
        # OPTIMIZE ZORDER BY primitive) over (user, event-time)
        return A.zorder_layout(
            _events_xy(spark, sf_dir), "user_id", "epoch_s"
        )

    def zorder_pruning(spark, sf_dir):
        # r5 session-9: zone-map skipping for a y-selective box (ALL
        # users, Jan 8-14) — the second-dimension predicate a
        # sort-by-x layout can never prune (every file spans all y);
        # z-order isolates the week into a subset of files
        return A.zorder_pruning(
            _events_xy(spark, sf_dir),
            "user_id",
            "epoch_s",
            box=(0, 10**9, 1704672000, 1705276799),
        )

    def champion_lists(spark, sf_dir):
        # r5 session-9: impact-ordered index pruning — top-3 docs per
        # term by (tf DESC, doc_id) on the tie-heavy tiny vocabulary
        return A.champion_lists(_docs(spark, sf_dir), r=3)

    def champion_search_eval(spark, sf_dir):
        # r5 session-9: shipped champions (r=2) vs shipped exact tf-sum
        # top-10 for a 3-term disjunctive query — with r=2 per term the
        # champion candidate pool is <= 6 docs, so the row shows REAL
        # pruning loss, never a vacuous 1000
        return A.champion_search_eval(
            _docs(spark, sf_dir), ["table", "scan", "data"], r=2, k=10
        )

    def snapshot_retention(spark, sf_dir):
        # r5 session-3: keep-last-N retention compaction — same 5-snaps-
        # per-url tie-heavy fixture as latest_snapshot, n_keep=3 so the
        # rank boundary cuts THROUGH a ts tie (max doc_id must win it)
        docs = _docs(spark, sf_dir)
        snaps = docs.select(
            "doc_id",
            F.concat(
                F.lit("u"), F.expr("doc_id div 5").cast("string")
            ).alias("url"),
            F.expr("((doc_id div 2) * 37) % 1000").alias("ts"),
        )
        return A.snapshot_retention(snaps, n_keep=3, key_col="url",
                                    ts_col="ts", id_col="doc_id")

    def gopher_rules(spark, sf_dir):
        # r5 extended Gopher format gates over planted violations:
        # %13 pages are bullet lists, %11 all-ellipsis, %5 get a hash
        # plant, %3 a stopword tail (so some pages pass every gate)
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        text2 = (
            F.when(
                F.pmod("doc_id", 13) == 0,
                F.lit("- item one\n- item two\n- item three"),
            )
            .when(
                F.pmod("doc_id", 11) == 0,
                F.lit("first bit...\nsecond bit...\nthird thing..."),
            )
            .otherwise(
                F.concat(
                    F.expr(_C4_LINES),
                    F.when(
                        F.pmod("doc_id", 5) == 0,
                        F.lit("\n##### ##### ##### ##### #####"),
                    ).otherwise(F.lit("")),
                    F.when(
                        F.pmod("doc_id", 3) == 0,
                        F.lit("\nto of and that it is"),
                    ).otherwise(F.lit("")),
                )
            )
        )
        return A.gopher_rules(docs.select("doc_id", text2.alias("text")))

    def _robots_sql(spark, sf_dir):
        # one robots.txt per synthesized host (doc_id % 7): a '*' section
        # with a Disallow + longer Allow, a decoy per-bot section the
        # parser must DISCARD, an RFC 9309 GROUPED section ('*' first,
        # then a named bot — the r4 ADVICE trap: a sectioning bug binds
        # its rule only to the named bot and drops the '*' rule), a
        # comment, and CRLF endings — all SQL-predictable.  The host is
        # MIXED-CASE so the rules-side lowercase normalization has teeth
        # (robots_filter joins these rules against lowercased URL hosts).
        hosts = _docs(spark, sf_dir).select(
            F.pmod("doc_id", 7).cast("string").alias("h")
        ).distinct()
        return hosts.select(
            F.concat(F.lit("H"), "h", F.lit(".Example")).alias("host"),
            F.concat(
                F.lit("# robots for host "), "h",
                F.lit("\r\nUser-agent: *\r\nDisallow: /private"), "h",
                F.lit("/\r\nAllow: /private"), "h",
                F.lit("/ok/\r\n\r\nUser-agent: evilbot\r\nDisallow: /\r\n"),
                F.lit("\r\nUser-agent: *\r\nUser-agent: otherbot"),
                F.lit("\r\nDisallow: /group"), "h", F.lit("/\r\n"),
            ).alias("robots_txt"),
        )

    def robots_rules(spark, sf_dir):
        # r4 crawl-side gate: parse the '*' sections (group-start window,
        # comment strip, CRLF, case-insensitive fields, lowercased host;
        # the evilbot section must NOT leak and the grouped-'*' rule MUST)
        return A.parse_robots(_robots_sql(spark, sf_dir))

    def robots_filter(spark, sf_dir):
        # longest-prefix-match verdicts: doc_id%4 picks a blocked path, a
        # path re-allowed by the LONGER Allow rule, a path blocked by the
        # grouped-'*' rule, or an unmatched path
        docs = _docs(spark, sf_dir)
        h = F.pmod("doc_id", 7).cast("string")
        path = (
            F.when(F.pmod("doc_id", 4) == 0,
                   F.concat(F.lit("/private"), h, F.lit("/x")))
            .when(F.pmod("doc_id", 4) == 1,
                  F.concat(F.lit("/private"), h, F.lit("/ok/y")))
            .when(F.pmod("doc_id", 4) == 2,
                  F.concat(F.lit("/group"), h, F.lit("/z")))
            .otherwise(F.lit("/public/z"))
        )
        urls = docs.select(
            "doc_id",
            F.concat(F.lit("https://h"), h, F.lit(".example"), path).alias("url"),
        )
        return A.apply_robots(urls, A.parse_robots(_robots_sql(spark, sf_dir)))

    def robots_sitemaps(spark, sf_dir):
        # r5 session-4: Sitemap directives (group-independent, per
        # sitemaps.org) — mixed-case hosts and field names, a commented-
        # out directive that must NOT extract, CRLF + bare-LF mixed
        hosts = (
            _docs(spark, sf_dir)
            .select(F.pmod("doc_id", 9).alias("h"))
            .distinct()
        )
        hs = F.col("h").cast("string")
        body = F.concat(
            F.lit("# robots preamble\r\nUser-agent: *\r\nDisallow: /x\r\n"),
            F.lit("Sitemap: https://h"), hs, F.lit(".example/sitemap.xml\r\n"),
            F.when(
                F.col("h") % 2 == 0,
                F.concat(
                    F.lit("sitemap: https://h"), hs,
                    F.lit(".example/extra.xml\n"),
                ),
            ).otherwise(F.lit("")),
            F.lit("# Sitemap: https://ignored.example/no.xml\n"),
            F.when(
                F.col("h") % 3 == 0,
                F.concat(
                    F.lit("SITEMAP: https://h"), hs,
                    F.lit(".example/upper.xml\n"),
                ),
            ).otherwise(F.lit("")),
        )
        robots = hosts.select(
            F.concat(F.lit("H"), hs, F.lit(".Example")).alias("host"),
            body.alias("robots_txt"),
        )
        return A.robots_sitemaps(robots)

    def dsir_weights(spark, sf_dir):
        # r4 data-SELECTION tier (DSIR, unigram variant): importance =
        # per-doc log-likelihood ratio of target-domain LM (the corpus's
        # own English docs) vs the raw-corpus LM, add-one smoothed over
        # the union vocabulary, integer micro-nats — measured teeth: en
        # docs average +1034 micro-nats, zh -2007
        docs = _docs(spark, sf_dir)
        return A.dsir_weights(docs, docs.filter(F.col("lang") == "en"))

    def dsir_topk(spark, sf_dir):
        # the selection step: top-50 most target-like raw docs,
        # TakeOrderedAndProject with integer rank keys
        docs = _docs(spark, sf_dir)
        return A.dsir_topk(docs, docs.filter(F.col("lang") == "en"), k=50)

    def bigram_surprisal(spark, sf_dir):
        # r4 LM-filter tier above unigram_surprisal: interpolated-bigram
        # perplexity (λ=90% bigram MLE + 10% unigram backoff), integer
        # micro-nat sums — the KenLM-lite curation signal
        return A.bigram_surprisal(_docs(spark, sf_dir), lambda_pct=90)

    def decontaminate_fraction(spark, sf_dir):
        # the GPT-3 §C rule proper: contaminated when ≥10% of a doc's
        # DISTINCT 3-grams appear anywhere in the bench set (doc_id < 20,
        # the decontaminate convention); every doc gets a verdict row
        docs = _docs(spark, sf_dir)
        return A.decontaminate_fraction(
            docs, docs.filter(F.col("doc_id") < 20), n=3, max_pct=10
        )

    def host_rebalance(spark, sf_dir):
        # per-host down-sampling toward an expected ≤5 docs/host over a
        # deliberately skewed synthesized host map (every 3rd doc lands on
        # host0 — the hot-domain shape C4-style rebalancing exists for);
        # keep decisions are md5-bucket deterministic, never rand()
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                F.lit("https://User@Host"),
                F.when(F.pmod("doc_id", 3) == 0, F.lit(0))
                .otherwise(F.pmod("doc_id", 37))
                .cast("string"),
                F.lit(".Example.com:8443/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        return A.host_rebalance(docs, cap=5)

    def kmeans_clusters(spark, sf_dir):
        # r4: full-dimension integer-Lloyd k-means (topic bucketing /
        # SemDeDup substrate) — same deterministic integer space as PQ
        # training, so the oracle is the PQ CTE chain at m=1
        return A.kmeans_clusters(_emb(spark, sf_dir), k=8, iters=2)

    def semantic_dedup(spark, sf_dir):
        # SemDeDup over a fixed 330-vector corpus: vec_id < 300 plus 30
        # PLANTED identical copies (vec_id + 100000) — the copies MUST
        # co-cluster with their originals (identical vectors assign
        # identically) and drop at cos ≥ 0.9, so a stubbed pair stage
        # fails loudly; fixed corpus size keeps the within-cluster pair
        # volume flat across sf scales
        emb = (
            _emb(spark, sf_dir)
            .filter(F.col("vec_id") < 300)
            .select("vec_id", "embedding")
        )
        planted = emb.filter(F.col("vec_id") < 30).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        return A.semantic_dedup(
            emb.unionByName(planted), k=8, iters=2, threshold=0.9,
            max_cluster_size=1000,
        )

    def semantic_dedup_overflow(spark, sf_dir):
        # loud-cap companion (LSH overflow-twin convention): clusters the
        # pair stage would skip at cap 60 — guaranteed non-empty at every
        # driver scale (500 vectors / 8 clusters: pigeonhole forces a
        # cluster over 60), so the cap demonstrably fires
        return A.semantic_dedup_overflow(
            _emb(spark, sf_dir), k=8, iters=2, max_cluster_size=60
        )

    def pdf_extract_roundtrip(spark, sf_dir):
        # PDF/layout member of the extraction family (north rule): build
        # honest PDFs from document text with the two lines emitted in
        # REVERSE stream order; the extractor must FlateDecode-free parse
        # objects, walk the page tree, and reassemble reading order by
        # layout (y desc) — a stream-order concatenation hash-mismatches.
        from contentextractor_spark.plans.pipeline import extract_pdf_pages

        docs = _docs(spark, sf_dir).filter(F.col("text").rlike(_PDF_SAFE_RE))
        out = extract_pdf_pages(_pdf_pages_sql(docs), num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "text",
            "n_pages",
            "n_objects",
            "status",
        )

    def warc_extract_roundtrip(spark, sf_dir):
        # S-family breadth: WARC container → pages flat-map → FULL HTML
        # extraction, end to end.  ~50 multi-record archive buffers explode
        # back to one page per document (the flat-map must frame records by
        # Content-Length — bodies contain arbitrary text) and the pipeline
        # must then recover trim(text) byte-exactly, same as
        # extract_roundtrip but through the ingestion edge.
        from contentextractor_spark.sources.warc import warc_to_pages

        docs = _eligible(_docs(spark, sf_dir))
        pages = warc_to_pages(_warc_segments_sql(docs))
        out = extract_pages(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"), "main_text"
        )

    def extract_roundtrip(spark, sf_dir):
        pages = _docs_as_pages(_docs(spark, sf_dir))
        out = extract_pages(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"), "main_text"
        )

    def extract_boilerplate(spark, sf_dir):
        # F1-F8 adversarial: topic block + inline link-farm/hidden/id/class/
        # script/tipso/small-font/pagination junk the pipeline must remove
        docs = _eligible(_docs(spark, sf_dir))
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><body>" + _TOPIC_BLOCK + "<div><p>" + _INLINE_JUNK),
                    F.col("text"),
                    F.lit("</p></div></body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )
        out = extract_pages(pages, num_buckets=8)
        return out.select(F.col("url").cast("long").alias("doc_id"), "main_text")

    def extract_br_runs(spark, sf_dir):
        # T3/T4 adversarial: a 5-<br> run (mixed whitespace incl U+3000) in
        # place of the first space must collapse to ONE newline; the first
        # word alone would be sub-threshold if the run left a block gap
        docs = _eligible(_docs(spark, sf_dir))
        head = F.expr("substring(text, 1, instr(text, ' ') - 1)")
        tail = F.expr("substring(text, instr(text, ' ') + 1)")
        kept_len = lambda c: F.length(F.regexp_replace(c, _KEEP_NEG, ""))
        docs = docs.filter(
            (F.instr(F.col("text"), " ") >= 2)
            & (kept_len(head) >= 1)
            & (kept_len(tail) >= 1)
        )
        inner = F.concat(head, F.lit("<br><br>　 <br/><br ><br>"), tail)
        out = extract_pages(_pages_from_inner(docs, inner), num_buckets=8)
        return out.select(F.col("url").cast("long").alias("doc_id"), "main_text")

    def extract_entities(spark, sf_dir):
        # T8 adversarial: HTML-4.0 entities appended to the text line must
        # unescape AFTER tag-strip (the literal <b> stays in the output)
        docs = _eligible(_docs(spark, sf_dir))
        inner = F.concat(F.col("text"), F.lit(_ENT_HTML))
        out = extract_pages(_pages_from_inner(docs, inner), num_buckets=8)
        return out.select(F.col("url").cast("long").alias("doc_id"), "main_text")

    def _jp_encoded_pages(docs, pre: bytes, post: bytes):
        return docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.concat(
                F.lit(bytearray(pre)),
                F.encode(F.col("text"), "US-ASCII"),
                F.lit(bytearray(post)),
            ).alias("html"),
        )

    def extract_sjis_detect(spark, sf_dir):
        # D1 adversarial: Shift_JIS bytes, NO meta declaration — only the
        # byte-level detector can decode the JP suffix correctly
        docs = _eligible(_docs(spark, sf_dir)).filter(F.col("text").rlike(_ASCII_RE))
        pages = _jp_encoded_pages(docs, _SJIS_PRE, _SJIS_POST)
        out = extract_pages(pages, num_buckets=8)
        return out.select(F.col("url").cast("long").alias("doc_id"), "main_text")

    def extract_iso2022jp(spark, sf_dir):
        # D1(ESC sniff)/D2(meta override) adversarial: ISO-2022-JP is pure
        # 7-bit, so a naive ASCII check would mojibake the suffix
        docs = _eligible(_docs(spark, sf_dir)).filter(F.col("text").rlike(_ASCII_RE))
        pages = _jp_encoded_pages(docs, _ISO2022_PRE, _ISO2022_POST)
        out = extract_pages(pages, num_buckets=8)
        return out.select(F.col("url").cast("long").alias("doc_id"), "main_text")

    def extract_utf16_roundtrip(spark, sf_dir):
        # D1 adversarial: UTF-16LE with BOM — every byte pair is non-UTF-8
        docs = _eligible(_docs(spark, sf_dir))
        page = F.concat(
            F.lit("<html><body><div><p>"),
            F.col("text"),
            F.lit(_JP_SUFFIX + "</p></div></body></html>"),
        )
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.concat(
                F.lit(bytearray(b"\xff\xfe")), F.encode(page, "UTF-16LE")
            ).alias("html"),
        )
        out = extract_pages(pages, num_buckets=8)
        return out.select(F.col("url").cast("long").alias("doc_id"), "main_text")

    def _blocksel_pages(spark, sf_dir, junk_html: str, min_kept: int):
        docs = _eligible(_docs(spark, sf_dir)).filter(
            F.length(F.regexp_replace("text", _KEEP_NEG, "")) >= min_kept
        )
        return docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><body>" + junk_html + "<div><p>"),
                    F.col("text"),
                    F.lit("</p></div></body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )

    def extract_block_select2(spark, sf_dir):
        # n=2 maxima path: threshold = larger max (cal_threshold d[1]) —
        # the density-6 junk block must be dropped by selection, not by DOM
        # filtering (kept >= 26 ⇒ text density >= 7 > 6)
        pages = _blocksel_pages(spark, sf_dir, _BLOCK_J1, 26)
        out = extract_pages(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"), "main_text", "threshold"
        )

    def extract_block_select3(spark, sf_dir):
        # n=3 maxima path: the idx = n-1 promotion makes threshold the max;
        # junk blocks at densities 6 and 8 both drop (kept >= 34 ⇒ >= 9)
        pages = _blocksel_pages(spark, sf_dir, _BLOCK_J1 + _BLOCK_J2, 34)
        out = extract_pages(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"), "main_text", "threshold"
        )

    def extract_spans_roundtrip(spark, sf_dir):
        # span bookkeeping value-check: the trivial wrapper yields exactly
        # one block whose char extent is len(java_trim(text)) + 1 ("\n")
        pages = _docs_as_pages(_docs(spark, sf_dir))
        out = extract_pages(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            F.size("spans").alias("n_spans"),
            F.aggregate(
                F.transform("spans", lambda s: s["char_end"] - s["char_start"]),
                F.lit(0),
                lambda acc, v: acc + v,
            ).alias("span_chars"),
            F.col("spans")[0]["start_line"].alias("first_start_line"),
            F.col("spans")[0]["end_line"].alias("first_end_line"),
            "threshold",
        )

    def extract_spans_multiblock(spark, sf_dir):
        # T12/T14 across blocks (VERDICT r2 #7): the SAME eligible text in
        # TWO sibling <div><p> blocks → equal densities, threshold = d, both
        # blocks selected; per-span char extents and line numbers are
        # SQL-predictable (each span spans len(java_trim(text)) + 1 chars,
        # blocks start at fixed lines 1 and 6 of the wrapper layout).
        # Value-checks the block segmentation of TextExtract.java:334-409
        # across block boundaries, not just the single-block case.
        docs = _eligible(_docs(spark, sf_dir))
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><body><div><p>"),
                    F.col("text"),
                    F.lit("</p></div><div><p>"),
                    F.col("text"),
                    F.lit("</p></div></body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )
        out = extract_pages(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            F.size("spans").alias("n_spans"),
            F.col("spans")[0]["char_start"].alias("s1_char_start"),
            F.col("spans")[0]["char_end"].alias("s1_char_end"),
            F.col("spans")[1]["char_start"].alias("s2_char_start"),
            F.col("spans")[1]["char_end"].alias("s2_char_end"),
            F.col("spans")[0]["start_line"].alias("s1_start_line"),
            F.col("spans")[1]["start_line"].alias("s2_start_line"),
            "threshold",
        )

    def extract_keywords(spark, sf_dir):
        # K2 fold through the FULL pipeline; on clean ASCII words the
        # morphological analyzer provably degrades to word tokens, so the
        # fold is SQL-expressible: words with len > 1, non-numeric, each
        # with a trailing comma
        docs = _eligible(_docs(spark, sf_dir)).filter(
            F.col("text").rlike("^[A-Za-z0-9_ ]*$")
        )
        out = extract_pages(_pages_from_inner(docs, F.col("text")), num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"), "keyword_list"
        )

    def extract_debug_density(spark, sf_dir):
        # S6 debug side-channel value-check: the trivial page's density
        # array is [d, d, 0, 0, 0] with d = round(kept_len/4 + 0.5) (T11)
        from contentextractor_spark.plans.pipeline import extract_debug_channels

        pages = _docs_as_pages(_docs(spark, sf_dir))
        out = extract_debug_channels(pages)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            F.posexplode("density"),
        ).select(
            "doc_id",
            F.col("pos").alias("line_idx"),
            F.col("col").cast("long").alias("density"),
        )

    def extract_title_meta(spark, sf_dir):
        # P1-P3 value-check through the full pipeline: title / description /
        # keywords built from the doc's first word, recovered byte-exact
        docs = _eligible(_docs(spark, sf_dir)).filter(
            F.col("text").rlike("^[A-Za-z0-9_ ]*$") & (F.instr("text", " ") >= 2)
        )
        head = F.expr("substring(text, 1, instr(text, ' ') - 1)")
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><head><title>"),
                    head,
                    F.lit('</title><meta name="description" content="about '),
                    head,
                    F.lit('"><meta name="keywords" content="k1,k2,k3">'),
                    F.lit("</head><body><div><p>"),
                    F.col("text"),
                    F.lit("</p></div></body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )
        out = extract_pages(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "title", "description", "keywords", "main_text",
        )

    def extract_debug_blocks(spark, sf_dir):
        # S6 blocks side-channel + T12 segmentation value-check: the trivial
        # page yields exactly one block (1,2) with max=d and sum=kept_len
        from contentextractor_spark.plans.pipeline import extract_debug_channels

        pages = _docs_as_pages(_docs(spark, sf_dir))
        out = extract_debug_channels(pages)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            F.explode("blocks").alias("b"),
            "threshold",
        ).select(
            "doc_id",
            F.col("b.start_line").alias("start_line"),
            F.col("b.end_line").alias("end_line"),
            F.col("b.block_max").alias("block_max"),
            F.col("b.block_sum").alias("block_sum"),
            "threshold",
        )

    def extract_gauntlet(spark, sf_dir):
        docs = _eligible(_docs(spark, sf_dir)).filter(F.col("text").rlike(_ASCII_RE))
        head = F.expr("substring(text, 1, instr(text, ' ') - 1)")
        tail = F.expr("substring(text, instr(text, ' ') + 1)")
        kept_len = lambda c: F.length(F.regexp_replace(c, _KEEP_NEG, ""))
        docs = docs.filter(
            (F.instr(F.col("text"), " ") >= 2)
            & (kept_len(head) >= 1)
            & (kept_len(tail) >= 1)
        )
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.concat(
                F.lit(bytearray(_GAUNTLET_PRE)),
                F.encode(head, "US-ASCII"),
                F.lit(bytearray(_GAUNTLET_BR)),
                F.encode(tail, "US-ASCII"),
                F.lit(bytearray(_GAUNTLET_POST)),
            ).alias("html"),
        )
        out = extract_pages(pages, num_buckets=8)
        return out.select(F.col("url").cast("long").alias("doc_id"), "main_text")

    def curation_pipeline(spark, sf_dir):
        # the composed consumer flow: extract → exact-dedup on extracted
        # text → language-ID → quality gate → canonical curated rows.
        # Every stage is the REAL operator (not a re-derivation), and the
        # whole chain is value-checked end-to-end by one SQL oracle.
        pages = _docs_as_pages(_docs(spark, sf_dir))
        out = extract_pages(pages, num_buckets=8).select(
            F.col("url").cast("long").alias("doc_id"),
            F.col("main_text").alias("text"),
        )
        deduped = A.dedup_exact(out).filter(F.col("is_duplicate") == 0)
        docs2 = deduped.join(out, "doc_id").select("doc_id", "text")
        scored = A.quality_scores(docs2).join(
            A.lang_id(docs2).select("doc_id", "pred_lang"), "doc_id"
        )
        return scored.filter(F.col("alpha_pct") >= 50.0).select(
            "doc_id", "pred_lang", "alpha_pct", "stopword_hits"
        )

    def curation_full(spark, sf_dir):
        # the r3 composed flow — extraction → PII scrub → exact dedup →
        # repetition gate → language-ID → quality gate → split assignment.
        # PII is PLANTED inside the page body so extraction must carry it
        # and the scrubber must remove exactly it; every stage is the real
        # operator and ONE SQL oracle value-checks the whole chain.
        docs = _eligible(_docs(spark, sf_dir))
        inner = F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        )
        # localCheckpoint: the extraction feeds both sides of the dedup
        # join and four downstream operators — without it the mapInPandas
        # extraction re-executes per branch (same DON'T-RE-EXTRACT concern
        # as VERDICT r1 #7; mechanism differs from _flagship_extracted's
        # session-keyed persist — this one is per-call, lineage-truncating)
        out = extract_pages(_pages_from_inner(docs, inner), num_buckets=8).select(
            F.col("url").cast("long").alias("doc_id"),
            F.col("main_text").alias("text"),
        ).localCheckpoint()
        scrubbed = A.pii_scrub(out).select(
            "doc_id", F.col("clean_text").alias("text"), "n_emails"
        )
        keep = A.dedup_exact(scrubbed.select("doc_id", "text")).filter(
            F.col("is_duplicate") == 0
        )
        docs2 = keep.join(scrubbed, "doc_id").select("doc_id", "text", "n_emails")
        rep = A.repetition_signals(docs2.select("doc_id", "text"))
        # repetition gate: no single token may exceed 20% of the doc
        gated = docs2.join(
            rep.filter(F.col("max_unigram_count") * 5 <= F.col("n_tokens")).select(
                "doc_id", "n_tokens", "max_unigram_count"
            ),
            "doc_id",
        )
        scored = A.quality_scores(gated.select("doc_id", "text")).join(
            A.lang_id(gated.select("doc_id", "text")).select("doc_id", "pred_lang"),
            "doc_id",
        )
        split = A.train_split_assign(gated.select("doc_id", "text")).select(
            "doc_id", "split"
        )
        return (
            gated.select("doc_id", "n_tokens", "max_unigram_count", "n_emails")
            .join(scored.filter(F.col("alpha_pct") >= 50.0), "doc_id")
            .join(split, "doc_id")
            .select(
                "doc_id", "pred_lang", "split", "alpha_pct",
                "n_tokens", "max_unigram_count", "n_emails",
            )
        )

    def curation_v3(spark, sf_dir):
        # the session-2 composed flow: extraction → Gopher rule gate
        # (quality_filter, keep only clean docs) → corpus-LM surprisal
        # gate (unigram stats over the SURVIVING set — set-dependent, so
        # any upstream gate error shifts every downstream value) →
        # simhash fingerprint → deterministic split.  Every stage is the
        # real operator; ONE SQL oracle value-checks the whole chain.
        # _docs_as_pages applies the eligibility gate itself — no outer
        # _eligible (a redundant second regexp pass, r3 session-2 review)
        out = (
            extract_pages(_docs_as_pages(_docs(spark, sf_dir)), num_buckets=8)
            .select(
                F.col("url").cast("long").alias("doc_id"),
                F.col("main_text").alias("text"),
            )
            .localCheckpoint()  # feeds four operators — never re-extract
        )
        qf = (
            A.quality_filter(out)
            .filter(F.col("keep") == 1)
            .select("doc_id", "n_words")
        )
        kept = out.join(qf, "doc_id")
        surp = A.unigram_surprisal(kept.select("doc_id", "text"))
        gated = kept.join(
            surp.filter(F.col("mean_micronats") <= 8_000_000).select(
                "doc_id", "mean_micronats"
            ),
            "doc_id",
        ).localCheckpoint()  # three consumers — compute the gate chain once
        sh = A.simhash(gated.select("doc_id", "text"), bits=48)
        split = A.train_split_assign(gated.select("doc_id", "text")).select(
            "doc_id", "split"
        )
        return (
            gated.select("doc_id", "n_words", "mean_micronats")
            .join(sh, "doc_id")
            .join(split, "doc_id")
        )

    def cdc_chunks(spark, sf_dir):
        # r4 seventh dedup flavor: content-defined chunking (FastCDC at
        # token granularity) — boundaries where the token hash's low 4
        # bits are zero, so an insertion shifts only one chunk and every
        # later fingerprint re-aligns (shift-tolerant, unlike the
        # fixed-size chunk_hash_dedup)
        return A.cdc_chunks(_docs(spark, sf_dir), mask_bits=4)

    def cdc_chunk_dedup(spark, sf_dir):
        # cross-document shared content-defined chunks (193 at sf0.001)
        return A.cdc_chunk_dedup(_docs(spark, sf_dir), mask_bits=4)

    def sitemap_urls(spark, sf_dir):
        # r4 crawl-frontier feed: per-host sitemap XML (13 hosts; every
        # 5th is a <sitemapindex> naming child sitemaps, the rest
        # <urlset> with 2+h%3 page locs) through the REAL XML DOM — the
        # oracle predicts every (host, pos, loc, is_index) row from the
        # builder formula, so a mis-walked tree or out-of-order <loc>
        # flips the hash
        hosts = (
            _docs(spark, sf_dir)
            .select(F.pmod("doc_id", 13).alias("h"))
            .distinct()
        )
        url_blocks = (
            "array_join(transform(sequence(0, 1 + cast(h % 3 as int)),"
            " i -> concat('<url><loc>https://h', h, '.example/p/', i,"
            " '</loc><lastmod>2026-01-01</lastmod></url>')), '')"
        )
        idx_blocks = (
            "array_join(transform(sequence(0, 1),"
            " i -> concat('<sitemap><loc>https://h', h, '.example/sm-', i,"
            " '.xml</loc></sitemap>')), '')"
        )
        xml = F.expr(
            "case when h % 5 = 0 then"
            f" concat('<sitemapindex>', {idx_blocks}, '</sitemapindex>')"
            f" else concat('<urlset>', {url_blocks}, '</urlset>') end"
        )
        sm = hosts.select(
            F.concat(F.lit("h"), F.col("h").cast("string"), F.lit(".example")).alias(
                "host"
            ),
            xml.alias("xml"),
        )
        from contentextractor_spark.plans.pipeline import parse_sitemaps

        return parse_sitemaps(sm)

    def feed_urls(spark, sf_dir):
        # r5 session-4: RSS/Atom discovery next to sitemap_urls — 11
        # hosts, even h publish RSS (<item> with text <link>), odd h
        # Atom (<entry> with self-closing <link href>), 1+h%3 items
        # each, through the REAL XML DOM; the oracle predicts every
        # (host, pos, link, title, kind) row from the builder formula
        hosts = (
            _docs(spark, sf_dir)
            .select(F.pmod("doc_id", 11).alias("h"))
            .distinct()
        )
        rss_items = (
            "array_join(transform(sequence(0, cast(h % 3 as int)),"
            " i -> concat('<item><title>T', h, '_', i, '</title>',"
            " '<link>https://h', h, '.example/rss/', i, '</link>',"
            " '</item>')), '')"
        )
        atom_entries = (
            "array_join(transform(sequence(0, cast(h % 3 as int)),"
            " i -> concat('<entry><title>A', h, '_', i, '</title>',"
            " '<link href=\"https://h', h, '.example/atom/', i,"
            " '\"/></entry>')), '')"
        )
        xml = F.expr(
            "case when h % 2 = 0 then"
            f" concat('<rss><channel>', {rss_items}, '</channel></rss>')"
            f" else concat('<feed>', {atom_entries}, '</feed>') end"
        )
        feeds = hosts.select(
            F.concat(
                F.lit("h"), F.col("h").cast("string"), F.lit(".example")
            ).alias("host"),
            xml.alias("xml"),
        )
        from contentextractor_spark.plans.pipeline import parse_feeds

        return parse_feeds(feeds)

    def curation_v4(spark, sf_dir):
        # r4 session-2 composed flow, ONE SQL oracle for the whole chain:
        # overlap-fraction decontamination gate → per-host rebalancing
        # gate (host counts over the SURVIVORS — set-dependent) → Gopher
        # quality gate → CCNet tercile bucketing whose corpus LM is built
        # over the TRIPLE-gated set (any upstream gate error shifts every
        # downstream surprisal and bucket) → keep head+middle.
        docs = _docs(spark, sf_dir)
        frac = A.decontaminate_fraction(
            docs, docs.filter(F.col("doc_id") < 20), n=3, max_pct=10
        )
        g1 = docs.join(
            frac.filter(F.col("contaminated") == 0).select("doc_id"), "doc_id"
        )
        ud = g1.select(
            "doc_id",
            F.concat(
                F.lit("https://h"),
                F.when(F.pmod("doc_id", 3) == 0, F.lit(0))
                .otherwise(F.pmod("doc_id", 37))
                .cast("string"),
                F.lit(".example/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        hr = A.host_rebalance(ud, cap=30)
        g2 = g1.join(
            hr.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
        )
        qf = (
            A.quality_filter(g2)
            .filter(F.col("keep") == 1)
            .select("doc_id", "n_words")
        )
        g3 = g2.join(qf, "doc_id").localCheckpoint()  # LM + output feed
        cb = A.ccnet_buckets(g3.select("doc_id", "text", "lang"))
        return (
            cb.filter(F.col("bucket") != "tail")
            .join(g3.select("doc_id", "n_words"), "doc_id")
            .select("doc_id", "lang", "n_words", "mean_micronats", "bucket")
        )

    def curation_v5(spark, sf_dir):
        # r5 composed flow, ONE SQL oracle for the whole chain: onion
        # line scrub → Gopher format gates over the SCRUBBED text →
        # latest-snapshot recrawl dedup over the SURVIVORS.  The gates
        # interact: the %5 hash-spam line appears in ~100 docs (≥ the
        # min_docs=50 onion threshold) so the SCRUB removes it corpus-
        # wide and those docs pass symbol_heavy — a broken scrub flips
        # ~100 keep verdicts; the %13 bullet / %11 ellipsis plants sit
        # in only ~38 docs each (below threshold), survive the scrub,
        # and must be dropped by THEIR gates; which snapshot wins each
        # url's argmax depends on every upstream verdict.
        docs = _docs(spark, sf_dir).filter(
            F.col("text").isNotNull()
            & (F.size(F.split("text", " ")) >= 6)
        )
        ws = F.split("text", " ")
        l1 = F.concat_ws(" ", F.slice(ws, 1, 3))
        l2 = F.concat_ws(
            " ", F.expr("slice(split(text, ' '), 4, size(split(text, ' ')) - 3)")
        )
        body = (
            F.when(
                F.pmod("doc_id", 13) == 0,
                F.lit("- item one\n- item two\n- item three"),
            )
            .when(
                F.pmod("doc_id", 11) == 0,
                F.lit("first bit...\nsecond bit...\nthird thing..."),
            )
            .otherwise(
                F.concat(
                    l1, F.lit("\n"), l2,
                    F.when(
                        F.pmod("doc_id", 5) == 0,
                        F.lit("\n##### ##### ##### ##### #####"),
                    ).otherwise(F.lit("")),
                )
            )
        )
        text3 = F.concat(
            F.lit("top nav menu login\n"), body,
            F.when(
                F.pmod("doc_id", 2) == 0, F.lit("\n© example corp footer")
            ).otherwise(F.lit("")),
        )
        built = docs.select("doc_id", text3.alias("text"))
        scrubbed = A.scrub_boilerplate_lines(built, min_docs=50)
        gates = A.gopher_rules(
            scrubbed.select("doc_id", F.col("text_clean").alias("text"))
        )
        # few_stopwords excluded: the synthetic vocabulary has only 'the'
        # (documented accommodation — the oracle excludes it identically)
        survivors = gates.filter(
            ~F.col("violations").rlike(
                "symbol_heavy|bullet_heavy|ellipsis_heavy|non_alpha_words"
            )
        ).select("doc_id")
        snaps = survivors.select(
            "doc_id",
            F.concat(
                F.lit("u"), F.expr("doc_id div 5").cast("string")
            ).alias("url"),
            F.expr("((doc_id div 2) * 37) % 1000").alias("ts"),
        )
        latest = A.latest_snapshot(snaps, key_col="url", ts_col="ts",
                                   id_col="doc_id")
        return latest.join(
            scrubbed.select("doc_id", "n_kept", "n_removed"), "doc_id"
        ).select("key", "doc_id", "ts", "n_kept", "n_removed")

    def budget_select(spark, sf_dir):
        # r5 data-budget selection: best mean-word-length-first greedy
        # prefix under a 20k-token budget — histogram threshold + one
        # boundary-group window, never a corpus sort
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        scored = docs.selectExpr(
            "doc_id",
            "(n_chars * 10) div size(split(text, ' ')) AS score",
            "cast(size(split(text, ' ')) as bigint) AS n_tokens",
        )
        return A.budget_select(scored, 20000)

    def crawl_diff(spark, sf_dir):
        # r5 crawl-over-crawl delta: old = all docs; new drops %11 urls
        # (removed), rewrites %7 content (changed), and adds a parallel
        # u<id>x namespace for %13 (added); unchanged rows must vanish
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        old = docs.select(
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            F.md5("text").alias("content_hash"),
        )
        new = docs.filter(F.pmod("doc_id", 11) != 0).select(
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            F.md5(
                F.when(
                    F.pmod("doc_id", 7) == 0, F.concat(F.col("text"), F.lit(" v2"))
                ).otherwise(F.col("text"))
            ).alias("content_hash"),
        ).unionAll(
            docs.filter(F.pmod("doc_id", 13) == 0).select(
                F.concat(
                    F.lit("u"), F.col("doc_id").cast("string"), F.lit("x")
                ).alias("url"),
                F.md5("text").alias("content_hash"),
            )
        )
        return A.crawl_diff(old, new)

    def wet_roundtrip(spark, sf_dir):
        # r5 S-family breadth: WET (extracted-text conversion records)
        # egress -> ingestion roundtrip.  Teeth: (a) every 9th payload
        # embeds a 'WARC/1.0' + header look-alike decoy, so only
        # Content-Length framing recovers record boundaries; (b) each
        # segment carries one RESPONSE record the conversion reader must
        # skip; (c) ~25 records concatenate per segment in doc_id order.
        from contentextractor_spark.sources.warc import (
            to_wet_records,
            wet_to_docs,
        )

        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        payload = F.when(
            F.pmod("doc_id", 9) == 0,
            F.concat(F.col("text"), F.lit(" WARC/1.0 Content-Length: 3")),
        ).otherwise(F.col("text"))
        wet = to_wet_records(
            docs.select(
                F.col("doc_id").cast("string").alias("url"),
                payload.alias("text"),
            )
        ).withColumn("doc_id", F.col("url").cast("long"))
        # decoy response record (fixed 24-octet HTTP message) per segment
        decoy = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: ignore\r\nContent-Length: 24\r\n\r\n"
            "HTTP/1.1 200 OK\r\n\r\ndecoy\r\n\r\n"
        )
        seg = (
            wet.groupBy(F.expr("doc_id div 25").alias("seg"))
            .agg(
                F.concat(
                    F.lit(decoy),
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("doc_id", "wet"))
                            ),
                            lambda s: s["wet"],
                        ),
                        "",
                    ),
                ).alias("txt")
            )
            .select(F.encode("txt", "UTF-8").alias("wet"))
        )
        out = wet_to_docs(seg)
        return out.select(F.col("url").cast("long").alias("doc_id"), "text")

    def wat_roundtrip(spark, sf_dir):
        # completes the WARC/WET/WAT egress triple: deterministic affine
        # outlinks (the pagerank graph's construction) -> WAT metadata
        # records (JSON envelope via to_json) -> segment concat with a
        # response-record decoy -> wat_to_links ingestion.  Teeth:
        # (a) every anchor embeds a QUOTE and a BACKSLASH, so the JSON
        #     escaping roundtrip must be real (a hand-rolled concat
        #     corrupts every record);
        # (b) every 9th doc's anchor also embeds a 'WARC/1.0' +
        #     Content-Length header look-alike — only length framing
        #     recovers boundaries;
        # (c) each segment carries a response-type decoy record the
        #     metadata reader must skip.
        from contentextractor_spark.sources.warc import (
            to_wat_records,
            wat_to_links,
        )

        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        j_structs = F.array(
            *[
                F.struct(
                    ((F.col("doc_id") * 31 + 7 * j) % F.col("n")).alias("h"),
                    F.lit(j).alias("j"),
                )
                for j in (1, 2, 3)
            ]
        )
        anchor = F.concat(
            F.lit('a"\\'),
            F.col("doc_id").cast("string"),
            F.lit("_"),
            F.col("l.j").cast("string"),
            F.when(
                F.pmod("doc_id", 9) == 0,
                F.lit(" WARC/1.0 Content-Length: 3"),
            ).otherwise(F.lit("")),
        )
        links = (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select("doc_id", F.explode(j_structs).alias("l"))
            .select(
                F.col("doc_id").cast("string").alias("url"),
                F.concat(
                    F.lit("https://h"),
                    F.col("l.h").cast("string"),
                    F.lit(".example/p"),
                    F.col("l.j").cast("string"),
                ).alias("href"),
                anchor.alias("anchor"),
            )
        )
        wat = to_wat_records(links).withColumn(
            "doc_id", F.col("url").cast("long")
        )
        decoy = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: ignore\r\nContent-Length: 24\r\n\r\n"
            "HTTP/1.1 200 OK\r\n\r\ndecoy\r\n\r\n"
        )
        seg = (
            wat.groupBy(F.expr("doc_id div 25").alias("seg"))
            .agg(
                F.concat(
                    F.lit(decoy),
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("doc_id", "wat"))
                            ),
                            lambda s: s["wat"],
                        ),
                        "",
                    ),
                ).alias("txt")
            )
            .select(F.encode("txt", "UTF-8").alias("wat"))
        )
        out = wat_to_links(seg)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "link_url",
            "link_text",
        )

    def jsonl_roundtrip(spark, sf_dir):
        # columnar JSONL serde roundtrip (to_json -> from_json, both
        # codegen'd JVM-side): every 7th doc's text gains a quote,
        # backslash, tab and newline so the hash pins REAL JSON escaping
        # in both directions (a naive concat writer or regex parser
        # corrupts those rows)
        from contentextractor_spark.sources.io import (
            docs_to_jsonl,
            jsonl_to_docs,
        )

        docs = _docs(spark, sf_dir)
        hostile = F.when(
            F.pmod("doc_id", 7) == 0,
            F.lit(' quote:" backslash:\\ tab:\t nl:\n done'),
        ).otherwise(F.lit(""))
        src = docs.select(
            "doc_id", "lang", F.concat(F.col("text"), hostile).alias("text")
        )
        out = jsonl_to_docs(
            docs_to_jsonl(src), "doc_id bigint, lang string, text string"
        )
        return out

    def orc_roundtrip(spark, sf_dir):
        # ORC interchange roundtrip through a lang-partitioned sink:
        # every 7th doc's text gains quote/backslash/tab/newline/unicode
        # so the hash pins the serde byte-for-byte; the read-back filters
        # lang (directory-level partition pruning — no file under en/ is
        # opened) AND doc_id % 3 (pushed into the ORC reader's stride
        # index).  tests/test_orc_roundtrip.py pins PartitionFilters +
        # PushedFilters in the scan plan.  The temp dir is leaked
        # deliberately (the extract_committed convention): the returned
        # DataFrame reads it lazily, so it must outlive this call.
        import tempfile

        from contentextractor_spark.sources.io import (
            read_orc,
            write_orc_partitioned,
        )

        docs = _docs(spark, sf_dir)
        hostile = F.when(
            F.pmod("doc_id", 7) == 0,
            F.lit(' quote:" backslash:\\ tab:\t nl:\n'
                  ' uni:\u00e9\u4e2d done'),
        ).otherwise(F.lit(""))
        src = docs.select(
            "doc_id",
            F.concat("text", hostile).alias("text"),
            "n_chars",
            "lang",
        )
        base = tempfile.mkdtemp(prefix="cx_orc_")
        path = base + "/docs"
        write_orc_partitioned(src, path, mode="overwrite")
        back = read_orc(spark, path)
        return back.filter(
            (F.col("lang") != "en") & (F.pmod("doc_id", 3) == 0)
        ).select("doc_id", "lang", "text", "n_chars")

    def extract_flagship(spark, sf_dir):
        out = _flagship_extracted(spark)
        return out.select(
            "url", "title", "description", "keywords", "main_text",
            "keyword_list", "threshold", "status",
        )

    def extract_committed(spark, sf_dir):
        # VERDICT r4 #5: the flagship write→lineage→read_committed protocol
        # under the SQL-predictable roundtrip corpus (oracle: eligible
        # trim(text)), with TEETH beyond plain extraction:
        #   (1) planted ORPHAN rows — a fake run_id with output rows but no
        #       lineage commit record (a run that died between the two
        #       appends) — must stay invisible to the committed read, or
        #       the row count breaks;
        #   (2) an immediate RESUME over the same pages must append nothing
        #       (every bucket already has a done lineage row), or the
        #       committed view gains duplicate rows and the hash breaks.
        # The temp dir is leaked deliberately: the returned DataFrame reads
        # output_path lazily, so it must outlive this call (small: one
        # sf-dir extraction's parquet).
        import tempfile

        from contentextractor_spark.plans.pipeline import (
            read_committed_output,
            run_extraction,
        )

        base = tempfile.mkdtemp(prefix="cx_committed_")
        out_p = os.path.join(base, "out")
        lin_p = os.path.join(base, "lineage")
        pages = _docs_as_pages(_docs(spark, sf_dir))
        run_extraction(
            spark, pages, output_path=out_p, lineage_path=lin_p, num_buckets=8
        )
        # materialize the orphan batch BEFORE appending (never read and
        # append the same path in one job)
        committed_now = spark.read.parquet(out_p)
        orphan_rows = (
            committed_now.withColumn("run_id", F.lit("deadbeef-orphan-run"))
            .limit(37)
            .collect()
        )
        spark.createDataFrame(orphan_rows, committed_now.schema).write.mode(
            "append"
        ).partitionBy("bucket_id").parquet(out_p)
        run_extraction(  # resume: all buckets done → appends 0 rows
            spark, pages, output_path=out_p, lineage_path=lin_p, num_buckets=8
        )
        committed = read_committed_output(spark, out_p, lin_p)
        return committed.select(
            F.col("url").cast("long").alias("doc_id"), "main_text"
        )

    def extract_spans(spark, sf_dir):
        out = _flagship_extracted(spark)
        return out.select(
            "url",
            F.size("spans").alias("n_spans"),
            F.coalesce(
                F.aggregate(
                    F.transform(
                        "spans", lambda s: s["char_end"] - s["char_start"]
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ),
                F.lit(0),
            ).alias("span_chars"),
        )

    def extract_lineage(spark, sf_dir):
        out = _flagship_extracted(spark)
        return lineage_metrics(out).select(
            "bucket_id", "url_min", "url_max", "row_count", "error_count",
            "extractor_version", "status",
        )

    def docs_per_lang(spark, sf_dir):
        return (
            _docs(spark, sf_dir)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
        )

    def doc_length_stats(spark, sf_dir):
        return (
            _docs(spark, sf_dir)
            .groupBy("lang")
            .agg(
                F.min("n_chars").alias("min_chars"),
                F.max("n_chars").alias("max_chars"),
                F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            )
        )

    def token_counts(spark, sf_dir):
        return A.token_counts(_docs(spark, sf_dir))

    def token_counts_bpe(spark, sf_dir):
        return A.token_counts_bpe(_docs(spark, sf_dir))

    def lang_id(spark, sf_dir):
        return A.lang_id(_docs(spark, sf_dir))

    def quality_scores(spark, sf_dir):
        return A.quality_scores(_docs(spark, sf_dir))

    def fingerprints(spark, sf_dir):
        return A.fingerprints(_docs(spark, sf_dir))

    def token_rarity(spark, sf_dir):
        return A.token_rarity(_docs(spark, sf_dir))

    def dedup_exact(spark, sf_dir):
        return A.dedup_exact(_docs(spark, sf_dir))

    def chunk_docs(spark, sf_dir):
        return A.chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, overlap=8)

    def rolling_fingerprints(spark, sf_dir):
        return A.rolling_fingerprints(_docs(spark, sf_dir))

    def minhash_signatures(spark, sf_dir):
        return A.minhash_signatures(_docs(spark, sf_dir), k=4, n=3)

    def minhash_lsh_buckets(spark, sf_dir):
        return A.minhash_lsh_buckets(_docs(spark, sf_dir), k=4, n=3)

    def minhash_jaccard_est(spark, sf_dir):
        # Broder estimator over the LSH candidate feed: matches/k equal
        # signature components per within-bucket pair, quantized to
        # micro-units — the triage stage between bucket candidates and
        # the exact shingle-join verify
        return A.minhash_jaccard_est(
            _docs(spark, sf_dir), k=4, n=3, max_bucket_size=100
        )

    def ngram_jaccard_pairs(spark, sf_dir):
        return A.jaccard_pairs(
            _docs(spark, sf_dir), n=3, min_intersection=2, max_shingle_freq=100
        )

    def simhash(spark, sf_dir):
        return A.simhash(_docs(spark, sf_dir), bits=48)

    def simhash_neardup_pairs(spark, sf_dir):
        # third dedup family's pair producer (exact, MinHash, SimHash):
        # banded hamming candidates + exact xor/bit_count rescore.  The
        # skew guard is ACTIVE and value-checked — cap 100 really drops the
        # 167/106/105-member buckets the templated sf0.01 corpus produces,
        # so the hash match proves the guarded candidate set.
        return A.simhash_neardup_pairs(
            _docs(spark, sf_dir), bits=48, n_bands=4, max_bucket_size=100
        )

    def simhash_overflow(spark, sf_dir):
        # the LOUD side of the simhash bucket cap: exactly the dropped ones
        return A.simhash_lsh_overflow(
            _docs(spark, sf_dir), bits=48, n_bands=4, max_bucket_size=100
        )

    def dedup_components_simhash(spark, sf_dir):
        # SimHash family's cluster composition, cap active like the pair row
        return A.dedup_components_simhash(
            _docs(spark, sf_dir), bits=48, n_bands=4, max_bucket_size=100
        )

    def tfidf_top_terms(spark, sf_dir):
        return A.tfidf_top_terms(_docs(spark, sf_dir), k=5)

    def quality_filter(spark, sf_dir):
        return A.quality_filter(_docs(spark, sf_dir))

    def unigram_surprisal(spark, sf_dir):
        return A.unigram_surprisal(_docs(spark, sf_dir))

    def corpus_report(spark, sf_dir):
        return A.corpus_report(_docs(spark, sf_dir))

    def quantize_embeddings(spark, sf_dir):
        # qvec is flattened to a CSV string for the driver: its pandas
        # canonicalizer sort_values() cannot hash list cells (r3 verdict —
        # the only failure mode of this row).  The operator itself keeps
        # the typed array<int> column for downstream use.
        q = A.quantize_embeddings(_emb(spark, sf_dir))
        return q.select(
            "vec_id",
            "scale",
            F.array_join(F.col("qvec").cast("array<string>"), ",").alias(
                "qvec_csv"
            ),
        )

    def quantized_knn(spark, sf_dir):
        return A.quantized_knn(_emb(spark, sf_dir), n_queries=10, k=5)

    def _link_pages_sql(docs):
        # two <a href> per page, hosts affine in doc_id, anchor text =
        # word slices of the doc text — hrefs AND anchors the extractor
        # must recover are SQL-predictable by construction (r4: anchors
        # feed host_anchor_terms)
        h1 = ((F.col("doc_id") * 7 + 1) % 37).cast("string")
        h2 = ((F.col("doc_id") * 7 + 2) % 37).cast("string")
        ws = F.split("text", " ")
        a1 = F.concat_ws(" ", F.slice(ws, 1, 2))
        a2 = F.concat_ws(" ", F.slice(ws, 3, 2))
        # a NULL text would null-propagate through concat into a NULL html
        # page (zero links) while the oracle predicted two — guard BOTH
        # sides identically (r3 session-2 review)
        docs = docs.filter(F.col("text").isNotNull())
        return docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><body><p>"),
                    F.col("text"),
                    F.lit('</p><a href="h'),
                    h1,
                    F.lit('.example/x">'),
                    a1,
                    F.lit('</a><a href="h'),
                    h2,
                    F.lit('.example/x">'),
                    a2,
                    F.lit("</a></body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )

    def crawl_frontier(spark, sf_dir):
        # r5 crawl-side composition through the REAL DOM link extraction:
        # links → distinct targets + in-link counts → seen-set anti-join
        # (the first 10 multiples of 10 mark their %37 hosts crawled —
        # gcd(10,37)=1, so an unbounded seen set would cover ALL hosts and
        # empty the frontier) → robots verdict
        # over 37 mixed-case hosts (k%5==0 hosts Disallow the exact /x
        # path the links carry — those targets must fall out)
        from contentextractor_spark.plans.pipeline import extract_links

        docs = _docs(spark, sf_dir)
        links = extract_links(_link_pages_sql(docs), num_buckets=8)
        seen = docs.filter(
            (F.pmod("doc_id", 10) == 0) & (F.col("doc_id") < 100)
        ).select(
            F.concat(
                F.lit("https://h"),
                F.pmod("doc_id", 37).cast("string"),
                F.lit(".example/x"),
            ).alias("url")
        )
        hosts = docs.select(
            F.pmod("doc_id", 37).cast("string").alias("k")
        ).distinct()
        robots = hosts.select(
            F.concat(F.lit("H"), "k", F.lit(".Example")).alias("host"),
            F.concat(
                F.lit("User-agent: *\r\nDisallow: "),
                F.when(
                    F.col("k").cast("int") % 5 == 0, F.lit("/x")
                ).otherwise(F.lit("/private/")),
                F.lit("\r\n"),
            ).alias("robots_txt"),
        )
        return A.crawl_frontier(links, seen, A.parse_robots(robots))

    def extract_links_roundtrip(spark, sf_dir):
        # link extraction through the REAL pipeline shape (salted
        # repartition → mapInPandas flat-map over the DOM parse): both
        # hrefs must come back in document order per page
        from contentextractor_spark.plans.pipeline import extract_links

        out = extract_links(_link_pages_sql(_docs(spark, sf_dir)), num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"), "href", "link_idx"
        )

    def host_anchor_terms(spark, sf_dir):
        # r4 web-graph topical signal: pages → DOM link extraction (now
        # carrying each <a>'s Jsoup-normalized text) → top-5 anchor terms
        # per target host.  The oracle never sees HTML — it predicts the
        # (host, anchor) stream from the same affine/word-slice page
        # construction, so a wrong anchor ANYWHERE in the DOM text walk
        # shifts a count and the hash
        from contentextractor_spark.plans.pipeline import extract_links

        out = extract_links(_link_pages_sql(_docs(spark, sf_dir)), num_buckets=8)
        return A.host_anchor_terms(out, k=5)

    def length_percentiles(spark, sf_dir):
        # r4 data-card distribution row: exact nearest-rank p50/p90/p99 of
        # n_chars per language via the histogram form (no corpus row sort)
        return A.length_percentiles(_docs(spark, sf_dir))

    def pagerank_extracted_hosts(spark, sf_dir):
        # the composed web-graph story: pages → DOM link extraction →
        # host parse → integer PageRank.  The oracle never sees HTML — it
        # predicts the edges from the same affine construction, so a wrong
        # href ANYWHERE upstream shifts some host's rank and the hash
        from contentextractor_spark.plans.pipeline import extract_links

        out = extract_links(_link_pages_sql(_docs(spark, sf_dir)), num_buckets=8)
        host = F.regexp_extract("href", "^h([0-9]+)\\.example", 1).cast("long")
        edges = out.select(
            F.col("url").cast("long").alias("src"),
            (host + 1000000000).alias("dst"),
        )
        return A.pagerank(edges, iters=2)

    def pagerank_links(spark, sf_dir):
        # the shared affine link graph (pagerank_edges_sql — no external
        # data), ranked with the integer micro-prob PageRank
        return A.pagerank(pagerank_edges_sql(_docs(spark, sf_dir)), iters=3)

    def hits_links(spark, sf_dir):
        # Kleinberg hubs/authorities over the shared affine link graph —
        # all-integer L1-normalized rounds (analysis.hits_scores), the
        # PageRank companion for crawl-seed (hub) / content-host
        # (authority) curation; oracle = 2 unrolled CTE rounds
        return A.hits_scores(pagerank_edges_sql(_docs(spark, sf_dir)), iters=2)

    def pagerank_dangling(spark, sf_dir):
        # r3 verdict #5: the affine graph with the top-10 doc_ids demoted
        # to pure sinks (they receive edges via the modular map but emit
        # none).  redistribute_dangling=True provably moves the sink mass:
        # with drop semantics every sink would rank exactly teleport
        # (150000 micro-probs); the hash check pins the redistributed
        # values instead
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        dsts = F.array(
            *[(F.col("doc_id") * 31 + 7 * j) % F.col("n") for j in (1, 2, 3)]
        )
        edges = (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .filter(F.col("doc_id") < F.col("n") - 10)
            .select(F.col("doc_id").alias("src"), F.explode(dsts).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        return A.pagerank(edges, iters=2, redistribute_dangling=True)

    def bm25_search(spark, sf_dir):
        return A.bm25_search(
            _docs(spark, sf_dir), ["query", "scan", "window"], k=15
        )

    def dedup_components_embedding(spark, sf_dir):
        # fourth dedup family's cluster composition; cap active like the
        # embedding_neardup_lsh_capped row it feeds from
        return A.dedup_components_embedding(
            _emb(spark, sf_dir),
            threshold=0.35,
            n_bands=6,
            band_bits=3,
            max_bucket_size=60,
            rescore="fold",  # oracle twin needs DuckDB list_reduce fold order
        )

    def inverted_index(spark, sf_dir):
        # caps ACTIVE: min_df prunes singletons, max_postings really
        # truncates (fixture dfs run into the hundreds) while df keeps the
        # true count — the no-silent-caps contract is what's value-checked.
        # postings flattened to CSV for the driver (its pandas canonicalizer
        # cannot hash list cells — r3 verdict); the operator keeps the
        # typed array<bigint>.
        idx = A.inverted_index(_docs(spark, sf_dir), min_df=2, max_postings=8)
        return idx.select(
            "term",
            "df",
            F.array_join(F.col("postings").cast("array<string>"), ",").alias(
                "postings_csv"
            ),
        )

    def term_search(spark, sf_dir):
        return A.term_search(
            _docs(spark, sf_dir), ["query", "window", "scan"]
        )

    def incremental_dedup(spark, sf_dir):
        # ingestion-path dedup: even doc_ids are the existing corpus, odd
        # are the new crawl batch; 10 corpus docs are re-submitted under
        # fresh ids so the 'exact' verdict is exercised (the fixture has no
        # natural cross-parity byte-dups), and the templated corpus gives
        # real cross-parity band collisions for 'near'
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        resub = corpus.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        incoming = docs.filter(F.col("doc_id") % 2 == 1).unionAll(resub)
        return A.incremental_dedup(corpus, incoming, k=4, n=3)

    def dedup_components(spark, sf_dir):
        return A.dedup_components(_docs(spark, sf_dir))

    def dedup_components_minhash(spark, sf_dir):
        # the full-scale dedup composition: MinHash banding → bucket star
        # edges (linear volume) → large-star/small-star components
        return A.dedup_components_minhash(_docs(spark, sf_dir), k=4, n=3)

    def dedup_canonical(spark, sf_dir):
        # r5 close of the dedup story: per MinHash component, the copy a
        # curation run KEEPS — argmax n_chars, ties → min doc_id (packed-
        # bigint argmax, one map-side groupBy)
        docs = _docs(spark, sf_dir)
        comps = A.dedup_components_minhash(docs, k=4, n=3)
        scores = docs.select("doc_id", F.col("n_chars").alias("score"))
        return A.component_canonical(comps, scores)

    def knn_bruteforce(spark, sf_dir):
        return A.knn_bruteforce(_emb(spark, sf_dir), n_queries=10, k=5)

    def embedding_neardup(spark, sf_dir):
        return A.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.35)

    def embedding_lsh_buckets(spark, sf_dir):
        return A.embedding_lsh_buckets(_emb(spark, sf_dir), n_planes=8)

    def embedding_neardup_lsh(spark, sf_dir):
        # rescore="fold": the oracle's DuckDB list_reduce matches the
        # sequential fold's summation order exactly; production (and bench)
        # default to the vectorized numpy rescore (r4 split)
        return A.embedding_neardup_lsh(
            _emb(spark, sf_dir),
            threshold=0.35,
            n_bands=6,
            band_bits=3,
            rescore="fold",
        )

    def ivf_topk(spark, sf_dir):
        return A.ivf_topk(_emb(spark, sf_dir), n_queries=10, k=5, n_lists=8, nprobe=3)

    def repetition_signals(spark, sf_dir):
        return A.repetition_signals(_docs(spark, sf_dir))

    def pii_scrub(spark, sf_dir):
        # the corpus text is digit/@-free (verified), so deterministic PII
        # is INJECTED per doc and the oracle predicts the redacted literal —
        # the scrubber must remove exactly what was planted, nothing else
        docs = _docs(spark, sf_dir)
        injected = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
                F.lit(" ip 10.0."),
                F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                # r4: a planted JP-style SPACED phone — the r3 recall miss
                # the zero-anchored PII_PHONE_SPACED pass now catches
                F.lit(".7 tel 090 1234 "),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
                F.lit(" end"),
            ).alias("text"),
        )
        return A.pii_scrub(injected)

    def substring_dedup(spark, sf_dir):
        # fifth dedup family (Lee et al. suffix-array semantics as shared
        # k-gram runs); the templated corpus guarantees real cross-doc
        # duplicated substrings at every sf
        return A.substring_dedup_spans(
            _docs(spark, sf_dir), k=4, min_grams=2
        )

    def substring_scrub(spark, sf_dir):
        # the apply side: duplicated spans removed from ALL occurrences,
        # text rebuilt lambda-free, removal counts auditable
        return A.substring_scrub(_docs(spark, sf_dir), k=4, min_grams=2)

    def chunk_hash_dedup(spark, sf_dir):
        return A.chunk_hash_dedup(_docs(spark, sf_dir), chunk_tokens=32, overlap=0)

    def train_split_assign(spark, sf_dir):
        return A.train_split_assign(_docs(spark, sf_dir), val_pct=10, test_pct=10)

    def canonicalize_urls(spark, sf_dir):
        # deterministic MESSY urls synthesized per doc (mixed-case host,
        # default port, utm params, fragment); the oracle predicts the
        # canonical literal — the op must strip exactly the noise
        docs = _docs(spark, sf_dir)
        messy = docs.select(
            "doc_id",
            F.concat(
                F.lit("HTTPS://Example"),
                F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
                F.lit(".COM:443/Path/"),
                F.col("doc_id").cast("string"),
                F.lit("?utm_source=feed&id="),
                F.col("doc_id").cast("string"),
                F.lit("&utm_campaign=x#frag"),
            ).alias("url"),
        )
        return A.canonicalize_urls(messy).select("doc_id", "canonical_url")

    def mixture_weights(spark, sf_dir):
        return A.mixture_weights(_docs(spark, sf_dir))

    def stratified_sample(spark, sf_dir):
        # deterministic md5-bucket subsampling, per-language fractions
        # quantized to 1/256 — the oracle recomputes the identical bucket
        out = A.stratified_sample(
            _docs(spark, sf_dir), {"en": 0.5, "ja": 0.25}, default=0.75
        )
        return out.select("doc_id", "lang", "sample_bucket")

    def domain_stats(spark, sf_dir):
        # per-host aggregation over deterministic synthesized urls (37
        # hosts, mixed-case + userinfo + port noise the extractor strips)
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            "n_chars",
            "lang",
            F.concat(
                F.lit("https://User@Host"),
                F.pmod(F.col("doc_id"), F.lit(37)).cast("string"),
                F.lit(".Example.com:8443/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        return A.domain_stats(docs)

    def decontaminate(spark, sf_dir):
        # benchmark set = the first 20 docs (every one contaminates itself,
        # plus any genuine cross-doc 3-gram overlap — both value-checked)
        docs = _docs(spark, sf_dir)
        bench = docs.filter(F.col("doc_id") < 20)
        return A.decontaminate(docs, bench, n=3, min_overlap=2)

    def pack_sequences(spark, sf_dir):
        return A.pack_sequences(_docs(spark, sf_dir), capacity=256, n_groups=32)

    def winnowing_fingerprints(spark, sf_dir):
        return A.winnowing_fingerprints(_docs(spark, sf_dir), k=3, w=4)

    def embedding_neardup_lsh_capped(spark, sf_dir):
        # the skew guard ACTIVE and value-checked: cap 60 really drops
        # buckets at sf0.01 (sizes run 39-87), so the hash match proves the
        # guarded candidate set — not just the no-op setting
        return A.embedding_neardup_lsh(
            _emb(spark, sf_dir),
            threshold=0.35,
            n_bands=6,
            band_bits=3,
            max_bucket_size=60,
            rescore="fold",  # oracle twin needs DuckDB list_reduce fold order
        )

    def embedding_lsh_overflow(spark, sf_dir):
        # the LOUD side of the guard: exactly the buckets the cap dropped
        return A.embedding_lsh_overflow(
            _emb(spark, sf_dir), n_bands=6, band_bits=3, max_bucket_size=60
        )

    def minhash_lsh_capped(spark, sf_dir):
        # cap 2 drops the n_docs=3 buckets at sf0.01 — guard active
        return A.minhash_lsh_buckets(
            _docs(spark, sf_dir), k=4, n=3, max_bucket_size=2
        )

    def ivf_fixed_topk(spark, sf_dir):
        # ivf_topk's oracle twin: same probe/rescore code, fixed md5-derived
        # centers instead of a KMeans fit — fully hash-checkable
        return A.ivf_fixed_centers_topk(
            _emb(spark, sf_dir), n_queries=10, k=5, n_lists=8, nprobe=3
        )

    def events_hourly(spark, sf_dir):
        return E.hourly_event_counts(_events(spark, sf_dir))

    def events_sessionize(spark, sf_dir):
        return E.sessionize(_events(spark, sf_dir), gap_minutes=30)

    def events_funnel(spark, sf_dir):
        # ordered 5-step conversion funnel with strict-after per-user
        # min-ts chaining (events.funnel), run over the FIRST EIGHTH of
        # the stream (one-row broadcast count, no collect) so conversion
        # actually thins per stage — over the full fixture every user
        # reaches every step (150,150,150: a funnel that ignored the
        # chaining would hash identically); measured counts at sf0.01 are
        # 115/66/30/13/2, so the hash pins the chain semantics
        ev = _events(spark, sf_dir)
        n = ev.select(F.count(F.lit(1)).alias("__n"))
        ev8 = (
            ev.crossJoin(F.broadcast(n))
            .filter(F.col("event_id") < F.expr("__n div 8"))
            .drop("__n")
        )
        return E.funnel(
            ev8, ["signup", "view", "purchase", "click", "error"]
        )

    def events_top_users(spark, sf_dir):
        return E.top_users_by_value(_events(spark, sf_dir), k=10)

    def events_asof_join(spark, sf_dir):
        return E.asof_latest(_events(spark, sf_dir), ref_type="view")

    def events_type_totals_salted(spark, sf_dir):
        return E.type_totals_salted(_events(spark, sf_dir), n_salts=16)

    def docs_rollup(spark, sf_dir):
        # grouping-sets coverage: ROLLUP(lang, source) counts
        return (
            _docs(spark, sf_dir)
            .rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
        )

    def token_set_ops(spark, sf_dir):
        # set-operation coverage: distinct tokens of en-docs EXCEPT fr-docs,
        # INTERSECT with es-docs counts
        docs = _docs(spark, sf_dir)
        tok = lambda lg: (
            docs.filter(F.col("lang") == lg)
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .distinct()
        )
        only_en = tok("en").exceptAll(tok("fr")).distinct()
        en_and_es = tok("en").intersect(tok("es"))
        return (
            only_en.withColumn("set_kind", F.lit("en_minus_fr"))
            .unionByName(en_and_es.withColumn("set_kind", F.lit("en_and_es")))
            .groupBy("set_kind")
            .agg(F.count(F.lit(1)).alias("n_tokens"))
        )

    def docs_above_lang_avg(spark, sf_dir):
        # subquery-style coverage: docs longer than their language's average.
        # NOT a Window.partitionBy("lang") — a 5-partition window would put
        # the whole corpus on 5 tasks at 100 TB; the tiny per-lang aggregate
        # broadcasts back instead (map-side combinable, no skewed sort)
        docs = _docs(spark, sf_dir)
        avgs = docs.groupBy("lang").agg(F.avg("n_chars").alias("lang_avg"))
        return (
            docs.join(F.broadcast(avgs), "lang")
            .filter(F.col("n_chars") > F.col("lang_avg"))
            .select("doc_id", "lang", "n_chars")
        )

    def tpch_pricing_summary(spark, sf_dir):
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        return R.pricing_summary(li)

    def tpch_top_suppliers(spark, sf_dir):
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        su = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
        return R.top_suppliers(li, su, k=10)

    def tpch_region_revenue(spark, sf_dir):
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.region_revenue(
            rd("lineitem"), rd("orders"), rd("customer"), rd("nation"), rd("region")
        )

    def tpch_promo_share(spark, sf_dir):
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        pt = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
        return R.promo_revenue_share(li, pt)

    def tpch_shipping_priority(spark, sf_dir):
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.shipping_priority(rd("lineitem"), rd("orders"), k=10)

    def media_features(spark, sf_dir):
        from contentextractor_spark.operators.multimodal import media_features as mf

        media = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("media_type"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        return mf(media).select(
            "media_id", "media_type", "n_bytes", "content_hash",
            "width", "height", "status",
        )

    def media_resize_plan(spark, sf_dir):
        from contentextractor_spark.operators.multimodal import (
            media_features as mf,
            resize_plan,
        )

        media = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("media_type"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        return resize_plan(mf(media), max_side=256)

    def doc_length_quantiles(spark, sf_dir):
        # exact interpolated percentiles per language (both engines use
        # linear interpolation at (n-1)*q)
        return (
            _docs(spark, sf_dir)
            .groupBy("lang")
            .agg(
                F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
                F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90"),
                F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99"),
            )
        )

    def frame_sample_plan(spark, sf_dir):
        from contentextractor_spark.operators.multimodal import frame_sample_plan as fsp

        media = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("media_id"), F.col("n_chars").alias("n_frames")
        )
        return fsp(media, every_n=10).select(
            "media_id", F.col("frame_idx").cast("int").alias("frame_idx")
        )

    def url_blocklist(spark, sf_dir):
        # r5 session-2: UT1-style domain blocklist gate over 4-label
        # MIXED-CASE hosts w{0-2}.h{0-6}.Example.ORG.  The blocklist
        # plants: a 3-label entry (h3 — subdomain suffix match), its
        # trailing-dot duplicate (normalization + row-multiplication
        # trap), a mixed-case 4-label exact host (w2.h5), a dead entry
        # (example.net), and 'xample.org' — the label-boundary trap: a
        # naive string-endswith matcher blocks EVERY host with it
        # ('...example.org'.endswith('xample.org') is true), the
        # label-suffix semantics must block none.
        docs = _docs(spark, sf_dir)
        urls = docs.select(
            "doc_id",
            F.concat(
                F.lit("https://w"),
                F.pmod("doc_id", 3).cast("string"),
                F.lit(".h"),
                F.pmod("doc_id", 7).cast("string"),
                F.lit(".Example.ORG/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        bl = spark.range(1).select(
            F.explode(
                F.array(
                    F.lit("h3.example.org"),
                    F.lit("h3.example.org."),
                    F.lit("W2.h5.Example.org"),
                    F.lit("example.net"),
                    F.lit("xample.org"),
                )
            ).alias("domain")
        )
        return A.domain_blocklist(urls, bl)

    def politeness_schedule(spark, sf_dir):
        # r5 session-2 crawl planning: frontier urls over 7 hosts,
        # priority = n_refs DESC then url ASC (ties planted via %13),
        # MIXED-CASE delay table for h1/h3/h5 (2000ms), default 1000ms
        docs = _docs(spark, sf_dir)
        frontier = docs.select(
            F.concat(
                F.lit("https://h"),
                F.pmod("doc_id", 7).cast("string"),
                F.lit(".example/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.concat(
                F.lit("h"), F.pmod("doc_id", 7).cast("string"),
                F.lit(".Example"),
            ).alias("host"),
            F.pmod("doc_id", 13).cast("long").alias("n_refs"),
        )
        delays = spark.range(1).select(
            F.explode(
                F.array(F.lit("H1.example"), F.lit("h3.EXAMPLE"), F.lit("h5.example"))
            ).alias("host")
        ).withColumn("delay_ms", F.lit(2000))
        return A.politeness_schedule(frontier, delays)

    def containment_pairs(spark, sf_dir):
        # r5 session-3: asymmetric (doc-in-doc) near-dup detection —
        # den·inter >= num·min(sz) integer cross-multiplication; same
        # skew-guarded shingle self-join as ngram_jaccard_pairs (the
        # prefix filter is NOT sound for containment, see docstring).
        # The raw corpus only yields symmetric (also-Jaccard) pairs, so
        # plant doc-in-doc rows: doc d (d%17==0) concatenated with doc
        # d+1 becomes doc_id d+1000000 — containment(d→planted) = 1.0
        # while Jaccard ≈ sz_d/(sz_d+sz_{d+1}) < 0.7; a wrong filter
        # direction or a least() mixup flips these rows.
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        a = docs.filter(F.col("doc_id") % 17 == 0).alias("a")
        b = docs.alias("b")
        planted = a.join(
            b, F.col("b.doc_id") == F.col("a.doc_id") + 1
        ).select(
            (F.col("a.doc_id") + 1000000).alias("doc_id"),
            F.concat("a.text", F.lit(" "), "b.text").alias("text"),
        )
        return A.containment_pairs(
            docs.unionByName(planted), n=3, threshold=(7, 10),
            min_intersection=2, max_shingle_freq=100,
        )

    def url_templates(spark, sf_dir):
        # r5 session-3: path-template mining (crawler-trap detection).
        # URL shapes by doc_id%5: /p/{id}, dated /2024/{m}/post-{id},
        # low-cardinality /tag/t{k}, userinfo+port+mixed-case host with
        # digits in the QUERY, and a schemeless row (host must be NULL,
        # never merged with the real host); %251 plants rare one-off
        # templates that min_count=2 must drop.
        docs = _docs(spark, sf_dir)
        h = F.pmod("doc_id", 7).cast("string")
        did = F.col("doc_id").cast("string")
        r = F.pmod("doc_id", 5)
        url = (
            F.when(
                F.pmod("doc_id", 251) == 0,
                F.concat(F.lit("https://h"), h, F.lit(".example/one-off-"),
                         did, F.lit("-x")),
            )
            .when(r == 0, F.concat(F.lit("https://h"), h,
                                   F.lit(".example/p/"), did))
            .when(r == 1, F.concat(F.lit("https://h"), h, F.lit(".example/2024/"),
                                   F.pmod("doc_id", 12).cast("string"),
                                   F.lit("/post-"), did))
            .when(r == 2, F.concat(F.lit("https://h"), h, F.lit(".example/tag/t"),
                                   F.pmod("doc_id", 7).cast("string")))
            .when(r == 3, F.concat(F.lit("https://u5@H"), h,
                                   F.lit(".Example:8080/search?q=x"), did,
                                   F.lit("&page="), did))
            .otherwise(F.concat(F.lit("h"), h, F.lit(".example/p/"), did))
        )
        return A.url_templates(docs.select(url.alias("url")), min_count=2)

    def lang_profile(spark, sf_dir):
        # r5 session-3: per-sentence language profile / code-switch
        # detection.  Plants by doc_id%4: 0 = raw text (single sentence),
        # 1 = +1 CJK sentence (1:1 tie → pred latin, mixed), 2 = +3 CJK
        # sentences (cjk majority, still mixed), 3 = pure CJK (cjk, not
        # mixed).  Exercises majority both ways, the tie→latin
        # convention, and both is_mixed outcomes.
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        r = F.pmod("doc_id", 4)
        t = (
            F.when(r == 1, F.concat("text", F.lit(". 日本語 テキスト")))
            .when(r == 2, F.concat(
                "text", F.lit(". 日本語 一. 日本語 二. 日本語 三")))
            .when(r == 3, F.lit("日本語 テキスト 文章"))
            .otherwise(F.col("text"))
        )
        return A.lang_profile(docs.select("doc_id", t.alias("text")))

    def meta_robots(spark, sf_dir):
        # r5 session-2: page-level robots-meta gate.  Directives by
        # residue: %4==0 'noindex, follow', %4==1 'NOFOLLOW' (case
        # fold), %4==2 no meta at all (content null), %4==3 'none'
        # (≡ noindex+nofollow)
        from contentextractor_spark.plans.pipeline import extract_meta_robots

        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        meta = (
            F.when(
                F.pmod("doc_id", 4) == 0,
                F.lit('<meta name="robots" content="noindex, follow">'),
            )
            .when(
                F.pmod("doc_id", 4) == 1,
                F.lit('<meta name="ROBOTS" content="NOFOLLOW">'),
            )
            .when(F.pmod("doc_id", 4) == 2, F.lit(""))
            .otherwise(F.lit('<meta name="robots" content="none">'))
        )
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><head>"),
                    meta,
                    F.lit("</head><body><p>"),
                    F.col("text"),
                    F.lit("</p></body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )
        out = extract_meta_robots(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "noindex",
            "nofollow",
            "content",
        )

    def curation_v6(spark, sf_dir):
        # r5 session-2 composed chain giving the new ops set-dependent
        # teeth: (1) NFC — originals carry a COMPOSED ' café' suffix,
        # every %10 doc gets a +1000000 copy with the DECOMPOSED form;
        # only correct NFC makes copy bodies byte-equal their originals,
        # (2) script gate — %17 ids get a 300x CJK plant, keep
        # main_script=='latin', (3) onion pagination + FIRST-OCCURRENCE
        # paragraph dedup — the shared nav header survives once, copy
        # bodies drop iff NFC composed them equal, (4) domain blocklist
        # — %7==3 hosts drop.  Output pins the final text bytes by md5.
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        base = docs.select(
            "doc_id", F.concat("text", F.lit(" caf\u00e9")).alias("text")
        )
        copies = docs.filter(F.pmod("doc_id", 10) == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" cafe\u0301")).alias("text"),
        )
        normed = A.nfc_normalize(base.unionByName(copies))
        planted = normed.select(
            "doc_id",
            F.concat(
                "text_nfc",
                F.when(
                    F.pmod("doc_id", 17) == 0,
                    F.concat(F.lit(" "), F.expr("repeat('日本語テキスト', 300)")),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        latin = (
            A.script_profile(planted)
            .filter(F.col("main_script") == "latin")
            .select("doc_id", "main_script")
        )
        gated = planted.join(latin, "doc_id")
        pages = gated.select(
            "doc_id",
            "main_script",
            F.concat(
                F.lit("top nav menu login\n"),
                "text",
                F.when(
                    F.pmod("doc_id", 2) == 0, F.lit("\n© example corp footer")
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        deduped = A.paragraph_dedup(pages.select("doc_id", "text"))
        urls = pages.select(
            "doc_id",
            "main_script",
            F.concat(
                F.lit("https://h"),
                F.pmod("doc_id", 7).cast("string"),
                F.lit(".example.org/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        bl = spark.range(1).select(
            F.explode(F.array(F.lit("h3.example.org"))).alias("domain")
        )
        allowed = A.domain_blocklist(urls, bl).filter(F.col("blocked") == 0)
        return (
            deduped.join(allowed.select("doc_id"), "doc_id")
            .join(urls.select("doc_id", "main_script"), "doc_id")
            .select(
                "doc_id",
                "main_script",
                "n_kept",
                "n_removed",
                F.md5(F.encode("text_dedup", "UTF-8")).alias("fp"),
            )
        )

    def sentence_split(spark, sf_dir):
        # r5 session-2: naive-rule sentence segmentation over multi-
        # sentence pages built from the C4 line fixture (alternating
        # punctuated lines + a planted 'Dr. Smith' abbreviation that the
        # documented naive rule MUST split — the oracle encodes the
        # documented behavior, not an idealized one)
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        text2 = F.concat(
            F.expr(_C4_LINES),
            F.when(
                F.pmod("doc_id", 7) == 0,
                F.lit("\nDr. Smith arrived! Then left? Yes."),
            ).otherwise(F.lit("")),
        )
        return A.sentence_split(docs.select("doc_id", text2.alias("text")))

    def cdx_index(spark, sf_dir):
        # r5 session-2: SURT-keyed CDX capture index.  Mixed-case
        # multi-label hosts (case/label-reversal teeth), query kept,
        # fragment dropped, every %11 row schemeless → NULL surt; the
        # oracle PREDICTS the surt from the builder (never re-derives it
        # with string functions).  shards=4 exercises the range-sorted
        # shard layout on the real code path.
        docs = _docs(spark, sf_dir)
        d = F.col("doc_id")
        snaps = docs.select(
            "doc_id",
            F.when(
                F.pmod("doc_id", 11) == 0,
                F.concat(F.lit("page-"), d.cast("string")),
            )
            .otherwise(
                F.concat(
                    F.lit("https://W"),
                    F.pmod("doc_id", 3).cast("string"),
                    F.lit(".h"),
                    F.pmod("doc_id", 7).cast("string"),
                    F.lit(".Example.ORG/p/"),
                    d.cast("string"),
                    F.lit("?q="),
                    F.pmod("doc_id", 5).cast("string"),
                    F.lit("#sec"),
                )
            )
            .alias("url"),
            ((d * 37) % 1000).cast("long").alias("ts"),
            F.md5(F.concat(F.lit("d"), d.cast("string"))).alias("digest"),
        )
        return A.cdx_index(snaps, shards=4)

    def _table_pages_sql(docs):
        # r5 session-2 table-page builder: a 2x2 table (header row of
        # <th>s — one fixed label, one affine in doc_id — and a data row
        # of word-slice <td>s, the host_anchor_terms-proven-
        # normalization-safe trick); every %9 page adds a second 1x1
        # HEADERLESS table that must get its own table_idx
        docs = docs.filter(F.col("text").isNotNull())
        ws = F.split("text", " ")
        a1 = F.concat_ws(" ", F.slice(ws, 1, 2))
        a2 = F.concat_ws(" ", F.slice(ws, 3, 2))
        pages = docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><body><p>"),
                    F.col("text"),
                    F.lit("</p><table><tr><th>name</th><th>w"),
                    F.pmod("doc_id", 5).cast("string"),
                    F.lit("</th></tr><tr><td>"),
                    a1,
                    F.lit("</td><td>"),
                    a2,
                    F.lit("</td></tr></table>"),
                    F.when(
                        F.pmod("doc_id", 9) == 0,
                        F.concat(
                            F.lit("<table><tr><td>extra "),
                            F.col("doc_id").cast("string"),
                            F.lit("</td></tr></table>"),
                        ),
                    ).otherwise(F.lit("")),
                    F.lit("</body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )
        return pages

    def _heading_pages(docs):
        # heading-page grammar (shared by extract_headings +
        # heading_stats): optional h1 (SKIPPED on %11 docs — their
        # outline numbers '0.x'), always an h2 'part one', a second h2
        # on %3 docs (shifts later h_idx AND the h3's parent number),
        # an h3 on %4 docs — sec strings depend on THREE interacting
        # residues the oracles replay with CASEs
        return docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><body>"),
                    F.when(
                        F.pmod("doc_id", 11) != 0,
                        F.concat(
                            F.lit("<h1>title w"),
                            F.pmod("doc_id", 7).cast("string"),
                            F.lit("</h1>"),
                        ),
                    ).otherwise(F.lit("")),
                    F.lit("<p>"),
                    F.col("text"),
                    F.lit("</p><h2>part one</h2><p>filler</p>"),
                    F.when(
                        F.pmod("doc_id", 3) == 0, F.lit("<h2>part two</h2>")
                    ).otherwise(F.lit("")),
                    F.when(
                        F.pmod("doc_id", 4) == 0,
                        F.concat(
                            F.lit("<h3>detail d"),
                            F.pmod("doc_id", 5).cast("string"),
                            F.lit("</h3>"),
                        ),
                    ).otherwise(F.lit("")),
                    F.lit("</body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )

    def extract_headings(spark, sf_dir):
        # r5 session-3: document-outline extraction through the real
        # pipeline shape (salted repartition → mapInPandas DOM walk)
        from contentextractor_spark.plans.pipeline import extract_headings

        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        out = extract_headings(_heading_pages(docs), num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "h_idx",
            "level",
            "sec",
            "text",
        )

    def heading_stats(spark, sf_dir):
        # r5 session-3 composition: extracted outline → per-doc structure
        # profile (heading count, max depth, top-level count) — the
        # closed-form oracle means a walker drift in ANY residue branch
        # shifts a count and breaks the hash
        from contentextractor_spark.plans.pipeline import extract_headings

        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        out = extract_headings(_heading_pages(docs), num_buckets=8)
        return (
            out.groupBy(F.col("url").cast("long").alias("doc_id"))
            .agg(
                F.count(F.lit(1)).alias("n_headings"),
                F.max("level").alias("max_level"),
                F.sum((F.col("level") == 1).cast("int")).alias("n_top"),
            )
        )

    def extract_tables_roundtrip(spark, sf_dir):
        # r5 session-2: table extraction through the REAL pipeline shape
        # (salted repartition → mapInPandas over the DOM parse); every
        # cell of every table predicted by the SQL builder
        from contentextractor_spark.plans.pipeline import extract_tables

        pages = _table_pages_sql(_docs(spark, sf_dir))
        out = extract_tables(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "table_idx",
            "row_idx",
            "col_idx",
            "is_header",
            "cell",
        )

    def table_kv(spark, sf_dir):
        # r5 session-2 composition: extracted cells → header-keyed
        # attribute pairs.  The %9 headerless table must vanish (no
        # header row to key on)
        from contentextractor_spark.plans.pipeline import extract_tables

        pages = _table_pages_sql(_docs(spark, sf_dir))
        out = A.table_kv(extract_tables(pages, num_buckets=8))
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "table_idx",
            "row_idx",
            "key",
            "value",
        )

    def _list_pages(docs):
        # r5 session-7 list-page grammar: always a <ul> of two items (one
        # fixed-affine label, one word-slice — the tables trick), a third
        # item on %3 docs (shifts nothing — item_idx is per-list), and a
        # one-item <ol> on %4 docs that must get list_idx 1.  Nesting is
        # deliberately absent here (unit-tested directly in
        # tests/test_session7_ops.py — the roundtrip keeps the oracle
        # closed-form, the table-fixture convention)
        docs = docs.filter(F.col("text").isNotNull())
        ws = F.split("text", " ")
        a1 = F.concat_ws(" ", F.slice(ws, 1, 2))
        return docs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.encode(
                F.concat(
                    F.lit("<html><body><p>"),
                    F.col("text"),
                    F.lit("</p><ul><li>alpha w"),
                    F.pmod("doc_id", 7).cast("string"),
                    F.lit("</li><li>"),
                    a1,
                    F.lit("</li>"),
                    F.when(
                        F.pmod("doc_id", 3) == 0, F.lit("<li>gamma</li>")
                    ).otherwise(F.lit("")),
                    F.lit("</ul>"),
                    F.when(
                        F.pmod("doc_id", 4) == 0,
                        F.concat(
                            F.lit("<ol><li>first o"),
                            F.pmod("doc_id", 5).cast("string"),
                            F.lit("</li></ol>"),
                        ),
                    ).otherwise(F.lit("")),
                    F.lit("</body></html>"),
                ),
                "UTF-8",
            ).alias("html"),
        )

    def extract_lists_roundtrip(spark, sf_dir):
        # r5 session-7: list extraction through the REAL pipeline shape
        # (salted repartition → mapInPandas DOM walk); every item of
        # every list predicted by the SQL builder
        from contentextractor_spark.plans.pipeline import extract_lists

        pages = _list_pages(_docs(spark, sf_dir))
        out = extract_lists(pages, num_buckets=8)
        return out.select(
            F.col("url").cast("long").alias("doc_id"),
            "list_idx",
            "list_type",
            "item_idx",
            "item",
        )

    def list_stats(spark, sf_dir):
        # r5 session-7 composition: extracted items → per-doc structure
        # profile; the closed-form oracle means a walker drift in any
        # residue branch shifts a count and breaks the hash
        from contentextractor_spark.plans.pipeline import extract_lists

        pages = _list_pages(_docs(spark, sf_dir))
        out = extract_lists(pages, num_buckets=8)
        per_list = out.groupBy(
            F.col("url").cast("long").alias("doc_id"), "list_idx"
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
        return per_list.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.sum("n").cast("long").alias("n_items"),
            F.max("n").cast("long").alias("max_list_len"),
        )

    def script_profile(spark, sf_dir):
        # r5 session-2: per-doc Unicode script composition.  Script
        # snippets planted by residue (shared _SCRIPT_SNIPPETS constant
        # — the SQL CASEs interpolate the same strings); ja-lang base
        # docs already carry CJK so main_script flips there without any
        # plant, and the digit plant rides with arabic (%13)
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        text2 = F.col("text")
        parts = [text2]
        for mod, snippet in _SCRIPT_SNIPPETS:
            parts.append(
                F.when(F.pmod("doc_id", mod) == 0, F.lit(snippet)).otherwise(
                    F.lit("")
                )
            )
        built = docs.select("doc_id", F.concat(*parts).alias("text"))
        return A.script_profile(built)

    def paragraph_dedup(spark, sf_dir):
        # r5 session-2: first-occurrence exact paragraph dedup over the
        # onion fixture — the shared nav header survives ONLY in the
        # minimum doc_id that carries it, the footer only in the minimum
        # even doc, content lines only at their first (doc_id, pos)
        # occurrence (synthetic texts do repeat, so content lines have
        # teeth too)
        return A.paragraph_dedup(_bp_built(spark, sf_dir))

    def nfc_normalize(spark, sf_dir):
        # r5 session-2: UAX#15 NFC vs DuckDB's nfc_normalize — real
        # cross-engine normalization, not a passthrough.  Plants:
        # combining acute (e+U+0301 composes to é) on %2 docs, the
        # U+212B angstrom singleton + Hangul jamo pair (composes to 가)
        # on %3 docs; other rows exercise the ASCII fast path
        # (changed=0 unless the base text itself is non-NFC).
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        built = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.pmod("doc_id", 2) == 0, F.lit(" cafe\u0301")
                ).otherwise(F.lit("")),
                F.when(
                    F.pmod("doc_id", 3) == 0,
                    F.lit(" \u212b\u1100\u1161"),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return A.nfc_normalize(built)

    def _prefix_corpus(spark, sf_dir):
        # arithmetic token sets ('t'||(doc_id*7+j*13)%997, j=0..19) the
        # oracle can brute-force; every %10 doc gets a planted near-copy
        # (+1000000, j=1..20 — intersection 19, J=19/21≥0.6); residue
        # arithmetic also yields ACCIDENTAL high-overlap pairs at doc_id
        # deltas ≡ ±714·d (mod 997)
        docs = _docs(spark, sf_dir)
        mk = (
            "concat_ws(' ', transform(sequence({a}, {b}), "
            "j -> concat('t', (doc_id*7 + j*13) % 997)))"
        )
        base = docs.select("doc_id", F.expr(mk.format(a=0, b=19)).alias("text"))
        copies = docs.filter(F.pmod("doc_id", 10) == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr(mk.format(a=1, b=20)).alias("text"),
        )
        # second-generation copies (j=2..21): J=19/21 vs copy1 but only
        # 18/22 vs base — at t=0.9 the edge set is a PATH, so the
        # components op needs real transitivity to merge all three
        copies2 = docs.filter(F.pmod("doc_id", 20) == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.expr(mk.format(a=2, b=21)).alias("text"),
        )
        return base.unionByName(copies).unionByName(copies2)

    def vocab_growth(spark, sf_dir):
        # r5 session-3: Heaps-law vocabulary-growth curve — cutoffs span
        # sub-corpus to beyond-corpus at sf0.001 (plateau rows included)
        return A.vocab_growth(
            _docs(spark, sf_dir).filter(F.col("text").isNotNull()),
            cutoffs=(125, 250, 500, 1000),
        )

    def epoch_shuffle(spark, sf_dir):
        # r5 session-3: seeded global-shuffle plan for a training epoch —
        # md5 permutation, hash shard, within-shard rank
        return A.epoch_shuffle_plan(_docs(spark, sf_dir), n_shards=16)

    def group_sample(spark, sf_dir):
        # r5 session-3: deterministic fixed-k per-group sample (md5-rank)
        return A.group_topk_sample(_docs(spark, sf_dir), k=7)

    def hashed_linear_score(spark, sf_dir):
        # r5 session-3: fastText-style hashed linear model scoring — the
        # hashing-trick + broadcast-weight-join + integer-mean mechanism
        # behind model-based quality filters (weights are md5-derived
        # stand-ins; the plan is what a trained model would ride)
        return A.hashed_linear_score(
            _docs(spark, sf_dir), n_buckets=4096, threshold_micro=0
        )

    def _editdist_corpus(spark, sf_dir):
        # short ASCII strings over an a-j alphabet: base = 'qq' +
        # letter-mapped 5 digits of (doc_id*37)%100000 (injective below
        # 100k docs — no accidental exact dups in the base); every %10
        # doc gets a 1-SUBSTITUTION twin (+1000000, 'z' at position 4 —
        # 'z' is outside the alphabet so the edit is always real) and
        # every %20 doc a 1-DELETION twin (+2000000, drops position 5).
        # sub-vs-del distance is 2, so max_d=1 must exclude that pair;
        # the shared 'qq' prefix makes gram 'qq' corpus-frequent — the
        # rarest-first prefix order must push it last.  Value deltas of
        # one digit also create ACCIDENTAL dist-1 base pairs, and two
        # bases differing only in digit 2 collapse to IDENTICAL
        # substitution twins (dist 0) — both legitimate outputs.
        docs = _docs(spark, sf_dir)
        base = docs.select(
            "doc_id",
            F.expr(
                "concat('qq', translate(lpad(cast((doc_id*37) % 100000 "
                "as string), 5, '0'), '0123456789', 'abcdefghij'))"
            ).alias("text"),
        )
        subs = base.filter(F.pmod("doc_id", 10) == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr(
                "concat(substring(text, 1, 3), 'z', substring(text, 5))"
            ).alias("text"),
        )
        dels = base.filter(F.pmod("doc_id", 20) == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.expr(
                "concat(substring(text, 1, 4), substring(text, 6))"
            ).alias("text"),
        )
        return base.unionByName(subs).unionByName(dels)

    def dedup_components_editdist(spark, sf_dir):
        # r5 session-4: the editdist family's components row — LSS over
        # the exact pair set on the shared fixture corpus
        return A.dedup_components_editdist(
            _editdist_corpus(spark, sf_dir), max_d=1, q=2
        )

    def editdist_pairs(spark, sf_dir):
        # r5 session-3: EXACT edit-distance similarity join (ED-Join
        # q-gram prefix filter) — the oracle is the naive length-banded
        # levenshtein self-join, so a lossy prefix (wrong L, wrong gram
        # order, broken count filter) drops a pair and breaks the hash
        return A.editdist_pairs(_editdist_corpus(spark, sf_dir), max_d=1, q=2)

    def jaccard_prefix(spark, sf_dir):
        # r5 session-2: EXACT set-similarity join (PPJoin prefix filter)
        # — the brute-force oracle finds every true pair, so the zero-
        # false-negative claim is what the hash check actually tests
        return A.jaccard_prefix_pairs(_prefix_corpus(spark, sf_dir), (3, 5))

    def dedup_components_prefix(spark, sf_dir):
        # r5 session-2: connected components over the EXACT edge set —
        # planted copies + residue-accidental chains merge into min-id
        # components; oracle = brute-force pairs + recursive closure
        return A.dedup_components_prefix(_prefix_corpus(spark, sf_dir), (9, 10))

    def component_histogram(spark, sf_dir):
        # r5 session-3: dedup observability — cluster-size histogram over
        # the exact components (size-1 rows = the unique docs)
        labels = A.dedup_components_prefix(
            _prefix_corpus(spark, sf_dir), (9, 10)
        )
        return A.component_histogram(labels)

    def split_leakage(spark, sf_dir):
        # r5 session-3: near-dup pairs crossing the hash-bucket
        # train/val/test split — the leakage audit every benchmark-clean
        # training set needs; pairs and split are both shared definitions
        corpus = _prefix_corpus(spark, sf_dir)
        pairs = A.jaccard_prefix_pairs(corpus, (3, 5))
        splits = A.train_split_assign(corpus)
        sa = splits.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
        )
        sb = splits.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
        )
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .select("doc_a", "doc_b", "split_a", "split_b")
        )

    def _ring_affine_hub_edges(spark, sf_dir):
        # shared r5 session-4 graph fixture: the triangle_count ring+
        # affine edges PLUS 3 extra out-links on every doc_id%50==0 hub,
        # so degree-dependent caps have something real to drop
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        base = F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
        hub = F.array(
            (F.col("doc_id") + 3) % F.col("n"),
            (F.col("doc_id") + 4) % F.col("n"),
            (F.col("doc_id") + 5) % F.col("n"),
        )
        dsts = F.when(
            F.col("doc_id") % 50 == 0, F.concat(base, hub)
        ).otherwise(base)
        return (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
        )

    def co_citation(spark, sf_dir):
        # max_out=4 really bites: hubs carry outdeg ~6 and are dropped
        # (audited by the overflow twin — the cap is driver-checked
        # ACTIVE, the LSH-cap convention)
        return A.co_citation_pairs(
            _ring_affine_hub_edges(spark, sf_dir), max_out=4, min_count=1
        )

    def co_citation_overflow(spark, sf_dir):
        return A.co_citation_overflow(
            _ring_affine_hub_edges(spark, sf_dir), max_out=4
        )

    def degree_histogram(spark, sf_dir):
        return A.degree_histogram(_ring_affine_hub_edges(spark, sf_dir))

    def zipf_fit(spark, sf_dir):
        # r5 session-4: Zipf slope/intercept over the top-256 terms —
        # deci-milli-nat quantized lns + all-integer OLS
        return A.zipf_fit(_docs(spark, sf_dir), top_n=256)

    def redirect_resolve(spark, sf_dir):
        # r5 session-4: pointer-doubling redirect resolution — doc x with
        # x%16 != 0 redirects to x-1 (chains up to length 15, terminals
        # at multiples of 16; rounds=4 covers 16 hops) plus a planted
        # 2-cycle at (N, N+1) that must come back resolved=0
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        base = docs.filter(F.col("doc_id") % 16 != 0).select(
            F.col("doc_id").alias("src"),
            (F.col("doc_id") - 1).alias("dst"),
        )
        cyc = n.select(
            F.col("n").alias("src"), (F.col("n") + 1).alias("dst")
        ).unionByName(
            n.select(
                (F.col("n") + 1).alias("src"), F.col("n").alias("dst")
            )
        )
        return A.resolve_redirects(base.unionByName(cyc), rounds=4)

    def dataset_digest(spark, sf_dir):
        # r5 session-4: per-(lang, shard) order-free content digest —
        # the snapshot-comparison primitive (count + 40-bit md5 sum)
        return A.dataset_digest(_docs(spark, sf_dir), n_shards=16)

    def _ring_affine_edges(spark, sf_dir):
        # shared graph fixture (triangle_count + clustering_coefficient):
        # the (x, x+1, x+2) ring edges guarantee N triangles; the affine
        # 31x+7 edges add irregular degree so the orientation tiebreak
        # and the cc denominator are both exercised
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        dsts = F.array(
            (F.col("doc_id") + 1) % F.col("n"),
            (F.col("doc_id") + 2) % F.col("n"),
            (F.col("doc_id") * 31 + 7) % F.col("n"),
        )
        return (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
        )

    def triangle_count(spark, sf_dir):
        # r5 session-4: per-node triangle counts (degree-ordered
        # orientation) over the ring+affine fixture graph
        return A.triangle_counts(_ring_affine_edges(spark, sf_dir))

    def _bowtie_edges(spark, sf_dir):
        # planted bow-tie fixture over node = doc_id % 500 (DISTINCT
        # dedups if the corpus ever exceeds 500 docs — same graph at
        # every sf): core = 100-cycle with {+1,+4,+16,+64} chords
        # (eccentricity <= 9: base-4 digit sum of any offset < 100),
        # IN = 100..249 (200+ reach the core only THROUGH other IN
        # nodes), OUT = 250..399 (350+ only through other OUT nodes),
        # tendril 400..449 hangs off IN (reachable from IN, never from
        # core -> 'other'), 450..499 a disconnected 50-cycle.
        docs = _docs(spark, sf_dir)
        base = docs.select(
            F.pmod("doc_id", F.lit(500)).cast("long").alias("m")
        ).crossJoin(
            F.broadcast(
                spark.range(1, 5).select(F.col("id").alias("j"))
            )
        ).filter((F.col("m") < 100) | (F.col("j") == 1))
        return base.selectExpr(
            """CASE WHEN m < 250 THEN m
                    WHEN m < 350 THEN m % 100
                    WHEN m < 400 THEN m - 100
                    WHEN m < 450 THEN m - 300
                    ELSE m END AS src""",
            """CASE WHEN m < 100 THEN
                        (m + CASE j WHEN 1 THEN 1 WHEN 2 THEN 4
                                    WHEN 3 THEN 16 ELSE 64 END) % 100
                    WHEN m < 200 THEN m % 100
                    WHEN m < 250 THEN m - 100
                    WHEN m < 450 THEN m
                    ELSE 450 + (m - 449) % 50 END AS dst""",
        ).distinct()

    def bowtie_components(spark, sf_dir):
        # r5 session-9: Broder bow-tie census (core/in/out/other) via
        # forward+backward BFS from pivot 0; expected 100/150/150/100
        return A.bowtie_components(
            _bowtie_edges(spark, sf_dir), pivot=0, max_depth=12
        )

    def ndcg_eval(spark, sf_dir):
        # r5 session-9: NDCG@10 of the SHIPPED batched ranker under a
        # graded relevance label (distinct query terms present, 0..3) —
        # discount table inlined as integer literals in BOTH engines,
        # zero cross-engine transcendentals
        docs = _docs(spark, sf_dir)
        return A.ndcg_eval(docs, _eval_queries(docs), k=10)

    def events_interval_join(spark, sf_dir):
        # r5 session-9: point-in-interval join as a chunked EQUI-join
        # (no BNLJ): every %50 event opens a 90-minute window for its
        # user; count events + distinct types inside — start inclusive,
        # end exclusive, epoch-microsecond exact
        return E.interval_count_join(
            _events(spark, sf_dir), anchor_mod=50, window_s=5400,
            chunk_s=3600,
        )

    def adamic_adar(spark, sf_dir):
        # r5 session-9: Adamic–Adar link prediction over the undirected
        # ring+affine+hub graph — per-NODE quantized 1/ln(deg) weights,
        # integer pair sums, existing edges anti-joined away; max_deg=8
        # really bites on the hubs (audited by the overflow twin)
        return A.adamic_adar(_ring_affine_hub_edges(spark, sf_dir), max_deg=8)

    def adamic_adar_overflow(spark, sf_dir):
        # loud cap companion: the centers max_deg=8 excluded from wedge
        # formation (driver-checked nonempty — the cap is ACTIVE)
        return A.adamic_adar_overflow(
            _ring_affine_hub_edges(spark, sf_dir), max_deg=8
        )

    def l_diversity(spark, sf_dir):
        # r5 session-9: distinct l-diversity audit — QI cell (event_type,
        # hour-of-day), sensitive = user_id; two map-side-combinable
        # groupBys, never a countDistinct Expand
        return A.l_diversity(_events(spark, sf_dir), l=3)

    def readability(spark, sf_dir):
        # r5 session-9: FORCAST grade card (the sentence-free
        # readability formula — this corpus counts zero sentence
        # enders, so FK-style formulas degenerate)
        return A.readability(_docs(spark, sf_dir))

    def t_closeness(spark, sf_dir):
        # r5 session-9: ordered-EMD t-closeness over (lang, source)
        # cells vs the global doc-length-band distribution — completes
        # the release trio (size / variety / distribution drift).
        # All-integer floored-micro-unit EMD; band=50 gives ~11 ordered
        # bands on this corpus (n_chars spans 47-558).
        return A.t_closeness(_docs(spark, sf_dir), band=50)

    def clustering_coefficient(spark, sf_dir):
        # r5 session-8: per-node local clustering coefficient in integer
        # milli-units over the same ring+affine fixture — deg >= 2
        # everywhere here, triangles vary with the affine irregularity
        return A.clustering_coefficients(_ring_affine_edges(spark, sf_dir))

    def degree_assortativity(spark, sf_dir):
        # r5 session-8: Newman assortativity as an exact integer OLS
        # slope (symmetric-orientation trick: slope == Pearson r) over
        # the ring+affine+HUB fixture — hubs make degrees non-constant
        # so the statistic is non-degenerate
        return A.degree_assortativity(_ring_affine_hub_edges(spark, sf_dir))

    def link_reciprocity(spark, sf_dir):
        # r5 session-8: per-source reciprocity over a ring+back-edge
        # fixture — every doc links to doc+1; docs with doc_id%3==0 also
        # link BACK to doc-1, planting mutual pairs so recip_milli takes
        # all three values {0, 500, 1000} (never a vacuous all-zero row
        # set: the good_turing degenerate-fixture lesson)
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        dsts = F.when(
            F.col("doc_id") % 3 == 0,
            F.array(
                (F.col("doc_id") + 1) % F.col("n"),
                (F.col("doc_id") + F.col("n") - 1) % F.col("n"),
            ),
        ).otherwise(F.array((F.col("doc_id") + 1) % F.col("n")))
        edges = (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
            )
        )
        return A.link_reciprocity(edges)

    def pmi_collocations(spark, sf_dir):
        # r5 session-4: top-k bigram collocations by integer-staged PMI
        # lift (ln-free: ln is monotone, ranking needs no transcendental)
        return A.pmi_collocations(_docs(spark, sf_dir), min_count=5, k=50)

    def rfm_segments(spark, sf_dir):
        # r5 session-9: RFM customer coding — nearest-rank tercile cuts
        # from distinct-value histograms (never a corpus sort),
        # all-integer metrics (days / counts / cents)
        return E.rfm_segments(_events(spark, sf_dir))

    def events_retention(spark, sf_dir):
        # r5 session-4: daily cohort retention triangle over the events
        # stream — pure integer DATE arithmetic, counts only
        return E.retention_cohorts(_events(spark, sf_dir))

    def phrase_search(spark, sf_dir):
        # r5 session-5: positional phrase query (anchor-trick groupBy, no
        # join) — 33 "table scan" occurrences at sf0.001, oracle replays
        # the anchors via generate_subscripts
        return A.phrase_search(_docs(spark, sf_dir), ["table", "scan"])

    def crawl_depth(spark, sf_dir):
        # r5 session-5: BFS hop levels from the %97 seed set over the
        # shared affine link graph; frontier-form rounds, all-integer,
        # oracle = 4 unrolled CTE levels (the pagerank convention)
        docs = _docs(spark, sf_dir)
        seeds = docs.select(F.col("doc_id").alias("node")).filter(
            F.col("node") % 97 == 0
        )
        return A.bfs_levels(pagerank_edges_sql(docs), seeds, max_depth=4)

    def weighted_sample(spark, sf_dir):
        # r5 session-5: length-weighted deterministic Bernoulli subsample,
        # P(keep) = min(n_chars, 300)/300 via salted-md5 cross-multiply
        return A.weighted_sample(_docs(spark, sf_dir), w_max=300)

    def embedding_lsh_eval(spark, sf_dir):
        # r5 session-5: in-engine calibration of the embedding LSH
        # producer (6×3 bands, cap 60) vs the exact cosine truth at
        # t=0.35 — the lsh_eval pattern for the one family whose recall
        # is probabilistic; truth via the production numpy rescore
        return A.embedding_lsh_eval(_emb(spark, sf_dir))

    def simhash_eval(spark, sf_dir):
        # r5 session-5: the capped simhash producer (cap 100 — the driver
        # row's config, which really drops 100+-member buckets on this
        # templated fixture) vs the pigeonhole-complete uncapped truth —
        # the cap's PAIR-level recall cost, completing the eval trio
        return A.simhash_eval(
            _docs(spark, sf_dir), bits=48, n_bands=4, max_bucket_size=100
        )

    def recrawl_priority(spark, sf_dir):
        # r5 session-5: change-rate scheduling over the tie-heavy
        # 5-fetches-per-url revisit fixture; (ts, doc_id) total order
        # makes the transition count deterministic on ts ties
        return A.recrawl_priority(_revisit_snaps(_docs(spark, sf_dir)))

    def search_snippets(spark, sf_dir):
        # r5 session-5: ±3-token display window around the first 'query'
        # hit — the retrieval chain's last stage, row-local slice
        return A.search_snippets(_docs(spark, sf_dir), "query", window=3)

    def proximity_search(spark, sf_dir):
        # r5 session-5: NEAR/3 over the documents vocab — unordered
        # within-window co-occurrence, pruned postings join
        return A.proximity_search(
            _docs(spark, sf_dir), "table", "scan", window=3
        )

    def positional_index(spark, sf_dir):
        # r5 session-5: the index structure behind phrase_search — per
        # (term, doc) ascending position lists + true-df stamp, min_df=2
        # pruning ACTIVE; positions flattened to CSV for the driver (the
        # r3 array-column lesson)
        idx = A.positional_index(_docs(spark, sf_dir), min_df=2)
        return idx.select(
            "term",
            "doc_id",
            "df",
            F.array_join(
                F.col("positions").cast("array<string>"), ","
            ).alias("positions_csv"),
        )

    def bpe_fertility(spark, sf_dir):
        # r5 session-5: tokenizer fertility by language under the n=6
        # trained merge table — subtokens-per-word milli ratio, ONE
        # corpus pass (shared per-doc aggregate for both sums)
        return A.bpe_fertility(_docs(spark, sf_dir), n_merges=6)

    def index_merge(spark, sf_dir):
        # r5 session-5: segment-merge semantic check — index the even and
        # odd doc halves SEPARATELY (doc-disjoint segments), merge, and
        # the oracle computes the whole-corpus index directly: merged
        # df/postings must equal the one-pass build exactly
        docs = _docs(spark, sf_dir)
        even = A.inverted_index(docs.filter(F.col("doc_id") % 2 == 0))
        odd = A.inverted_index(docs.filter(F.col("doc_id") % 2 == 1))
        merged = A.inverted_index_merge(even, odd)
        return merged.select(
            "term",
            "df",
            F.array_join(
                F.col("postings").cast("array<string>"), ","
            ).alias("postings_csv"),
        )

    def personalized_ppr(spark, sf_dir):
        # r5 session-5: seed-pinned teleport PageRank over the shared
        # affine graph, seeds = %97 (the crawl_depth seed set) — oracle
        # = 2 unrolled integer rounds with the seed CASE
        docs = _docs(spark, sf_dir)
        seeds = docs.select(F.col("doc_id").alias("node")).filter(
            F.col("node") % 97 == 0
        )
        return A.personalized_pagerank(
            pagerank_edges_sql(docs), seeds, iters=2
        )

    def compaction_plan(spark, sf_dir):
        # r5 session-6: small-file compaction bins per table partition
        # (source) at target 2000 bytes — cumulative-prefix cut over the
        # (size DESC, id) order, one partition-keyed window
        files = _docs(spark, sf_dir).select(
            F.col("source").alias("part"),
            F.col("doc_id").alias("file_id"),
            F.col("n_chars").alias("size"),
        )
        return A.compaction_plan(files, target=2000)

    def rendezvous_shards(spark, sf_dir):
        # r5 session-6: HRW consistent placement over 8 shards + the
        # removal-stability columns (shard_after with shard 7 removed;
        # moved must equal [shard == 7] — unit-asserted)
        return A.rendezvous_shards(_docs(spark, sf_dir), n_shards=8)

    def postings_gap_stats(spark, sf_dir):
        # r5 session-6: delta-encoded posting-list sizing (gap bitlength
        # + v-byte bytes) per term, min_df=2 pruning active
        return A.postings_gap_stats(_docs(spark, sf_dir), min_df=2)

    def domain_quality_prior(spark, sf_dir):
        # r5 session-6: per-source empirical-Bayes quality prior (k=20
        # pseudo-counts toward the corpus alpha-ratio mean), all integer
        return A.domain_quality_prior(_docs(spark, sf_dir), k=20)

    def textrank_keywords(spark, sf_dir):
        # r5 session-6: corpus keywords = integer PageRank over the
        # adjacent-token co-occurrence graph (symmetric, no dangling),
        # top 50 by (rank, term); oracle = 2 unrolled CTE rounds
        return A.textrank_keywords(_docs(spark, sf_dir), iters=2, k=50)

    def events_anomaly(spark, sf_dir):
        # r5 session-6: per-type hourly count outliers, all-integer
        # cross-multiplied z-test (z=2), side = spike/trough sign
        return E.hourly_anomalies(_events(spark, sf_dir), z=2)

    def oov_rate(spark, sf_dir):
        # r5 session-6: per-(split, lang) OOV occurrence rate of the
        # val/test streams against the train-split vocabulary — scores
        # the SHIPPED md5-bucket split (the split_leakage convention)
        return A.oov_rate(_docs(spark, sf_dir))

    def events_attribution(spark, sf_dir):
        # r5 session-7: first/last-touch conversion attribution matrix —
        # touches strictly before each user's FIRST purchase in the
        # (ts, event_id) total order; value in integer cents
        return E.attribution(_events(spark, sf_dir), "purchase")

    def events_markov(spark, sf_dir):
        # r5 session-8: first-order Markov transition matrix over
        # per-user (ts, event_id)-ordered event sequences — 5x5 matrix
        # with integer milli transition probabilities
        return E.markov_transitions(_events(spark, sf_dir))

    def lexical_diversity(spark, sf_dir):
        # r5 session-8: per-doc type-token ratio + hapax fraction in
        # integer milli-units over whitespace tokens (the token_counts
        # split convention: '' yields one token, divisions never see 0)
        return A.lexical_diversity(_docs(spark, sf_dir))

    def tfidf_eval(spark, sf_dir):
        # r5 session-8: the df cap's measured effect — shipped capped
        # pairs vs the uncapped truth at the same threshold.  sf0.01:
        # n_true 119,308 / n_cand 300 / precision 1000, recall 2 milli —
        # READ AS: with stop terms included, cos>=0.3 is vacuous on this
        # corpus (the 31-word common vocabulary makes every doc pair
        # 'similar'), while the capped producer keeps exactly the 300
        # planted rare-term near-dups.  The cap DEFINES the similarity
        # over informative terms; this row quantifies that choice
        # instead of asserting it.
        return A.tfidf_eval(
            _docs(spark, sf_dir), max_df=100, threshold_milli=300
        )

    def tpch_order_priority(spark, sf_dir):
        # r5 session-8: Q4-shaped late-order counts per priority —
        # left-semi EXISTS probe (equi orderkey + ship>order post-filter)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.order_priority_counts(rd("orders"), rd("lineitem"))

    def tpch_customer_distribution(spark, sf_dir):
        # r5 session-8: Q13-shaped order-count histogram INCLUDING the
        # zero-order customers (left outer + coalesce — the churn view)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.customer_order_histogram(rd("customer"), rd("orders"))

    def tpch_large_orders(spark, sf_dir):
        # r5 session-9: Q18-shaped aggregate-then-join — the HAVING on
        # the qty rollup prunes orderkeys BEFORE the fact joins; top-100
        # via TakeOrderedAndProject (total order: price desc, key asc)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.large_orders(rd("lineitem"), rd("orders"), rd("customer"))

    def tpch_volume_shipping(spark, sf_dir):
        # r5 session-9: Q7-shaped two-dimension-chain join generalized
        # to all cross-border pairs (a fixed pair is empty at sf0.001)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.volume_shipping(
            rd("lineitem"), rd("orders"), rd("customer"),
            rd("supplier"), rd("nation"),
        )

    def kcenter_coreset(spark, sf_dir):
        # r5 session-9: Gonzalez farthest-point selection (k=6, seed =
        # min vec_id) — the d2_sel column is the monotone coverage
        # curve; oracle unrolls the same 5 argmax rounds
        return A.kcenter_coreset(_emb(spark, sf_dir), k=6)

    def ktruss_edges(spark, sf_dir):
        # r5 session-9: k-truss edge peel (k=4) over a planted
        # clique(K10) + triangle-strip + bridge + pendants fixture —
        # the strip peels in a 2-round CASCADE (chords die, then the
        # naked path), pendants/bridge die round 1, only the 45 clique
        # edges survive (simulated before shipping)
        docs = _docs(spark, sf_dir)
        m = F.pmod("doc_id", F.lit(500)).cast("long")
        base = docs.select(m.alias("m")).filter(
            ((F.col("m") < 100)
             & (F.expr("m div 10") < F.col("m") % 10))
            | F.col("m").between(100, 106)
            | F.col("m").between(110, 115)
            | (F.col("m") == 120)
            | F.col("m").between(130, 139)
        )
        edges = base.selectExpr(
            """CASE WHEN m < 100 THEN m div 10
                    WHEN m < 107 THEN m - 80
                    WHEN m < 116 THEN m - 90
                    WHEN m = 120 THEN 9
                    ELSE m - 130 END AS src""",
            """CASE WHEN m < 100 THEN m % 10
                    WHEN m < 107 THEN m - 79
                    WHEN m < 116 THEN m - 88
                    WHEN m = 120 THEN 20
                    ELSE m - 100 END AS dst""",
        )
        return A.ktruss(edges, k=4, rounds=4)

    def tpch_min_cost_supplier(spark, sf_dir):
        # r5 session-9: Q2-shaped correlated-min collapsed into ONE
        # packed argmin (cheapest unit, tie -> min suppkey) — no
        # join-back, no window; lineitem stands in for partsupp
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.min_cost_supplier(
            rd("lineitem"), rd("supplier"), rd("nation"), rd("part")
        )

    def tpch_important_parts(spark, sf_dir):
        # r5 session-9: Q11-shaped global-threshold subquery, made
        # scale-free AND non-vacuous (value > 5/4 the average per-part
        # revenue; this near-uniform fixture peaks at ~1.8x avg)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.important_parts(rd("lineitem"))

    def tpch_revenue_delta(spark, sf_dir):
        # r5 session-9: Q6-shaped pushdown showcase — one filtered
        # scan, revenue in integer 1e-4-dollar units (cents x
        # centi-discount; the fixture's discounts are exact 1% steps)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.revenue_delta(rd("lineitem"))

    def tpch_returned_items(spark, sf_dir):
        # r5 session-9: Q10-shaped returned-revenue top-20 customers
        # with nation context; TakeOrderedAndProject top-k
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.returned_items(
            rd("lineitem"), rd("orders"), rd("customer"), rd("nation")
        )

    def tpch_late_line_priority(spark, sf_dir):
        # r5 session-9: Q12-shaped critical-vs-rest split of late lines
        # (ship > order + 60d) per line status — one join, CASE split
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.late_line_priority(rd("lineitem"), rd("orders"))

    def tpch_supplier_part_types(spark, sf_dir):
        # r5 session-9: Q16-shaped distinct-supplier counts per part
        # attribute triple; arrears suppliers leave via broadcast anti
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.supplier_part_types(
            rd("lineitem"), rd("part"), rd("supplier")
        )

    def tpch_discounted_revenue(spark, sf_dir):
        # r5 session-9: Q19-shaped OR-of-three-branches revenue, one
        # join + disjunctive filter (bands widened to be non-vacuous
        # on the 200-part fixture), reported per brand
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.discounted_revenue(rd("lineitem"), rd("part"))

    def tpch_waiting_suppliers(spark, sf_dir):
        # r5 session-9: Q21-shaped sole-latest-shipper counts — the
        # EXISTS/NOT-EXISTS double correlation collapsed into two
        # orderkey groupBys + an achiever-count filter
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.waiting_suppliers(rd("lineitem"), rd("supplier"))

    def tpch_idle_customers(spark, sf_dir):
        # r5 session-9: Q22-shaped rich-but-lapsed customers per nation
        # — cross-multiplied scalar-avg threshold + left-anti recency
        # probe (literal never-ordered is empty on this fixture)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.idle_customers(rd("customer"), rd("orders"), rd("nation"))

    def rolling_active_users(spark, sf_dir):
        # r5 session-9: DAU/WAU/stickiness card — trailing 7-day
        # distinct users via bounded offset explode over the deduped
        # (user, day) table, never a range self-join
        return E.rolling_active_users(_events(spark, sf_dir))

    def chi2_terms(spark, sf_dir):
        # r5 session-9: chi-square feature selection per language —
        # contingency counts are exact BIGINTs, the statistic is ONE
        # identical-tree double per row floored to micro-units (the
        # bm25_batch recipe; no aggregation over floats anywhere)
        return A.chi2_terms(_docs(spark, sf_dir), min_df=5, k=10)

    def random_walks(spark, sf_dir):
        # r5 session-9: deterministic hash-guided walks (the DeepWalk
        # corpus shape) from the %97 seeds over the ring+affine+hub
        # fixture — per step one frontier join + one packed argmin
        # (7-hex-digit hash keeps the pack under 2^60), frontier
        # localCheckpointed per step
        docs = _docs(spark, sf_dir)
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
        return A.random_walks(
            _ring_affine_hub_edges(spark, sf_dir), seeds, walk_len=4
        )

    def skipgram_pairs(spark, sf_dir):
        # r5 session-9: word2vec training-pair counts, ±2 window — one
        # arrays_zip explode + literal-struct pair emit (codegen'd, the
        # _gram_stream convention), single map-side-combinable groupBy
        return A.skipgram_pairs(_docs(spark, sf_dir), window=2, min_count=5)

    def frequent_pairs(spark, sf_dir):
        # a-priori basket pairs; support prune bites (token dfs run
        # 25..415 vs min_support 100) AND the per-doc cap bites (28-30
        # docs carry all 30 frequent tokens at the gate SFs; the
        # overflow twin lists them — LSH-cap convention, cap ACTIVE)
        return A.frequent_pairs(
            _docs(spark, sf_dir), min_support=100, max_doc_tokens=29
        )

    def frequent_pairs_overflow(spark, sf_dir):
        return A.frequent_pairs_overflow(
            _docs(spark, sf_dir), min_support=100, max_doc_tokens=29
        )

    def gini_activity(spark, sf_dir):
        # r5 session-9: per-type power-user inequality card — all-
        # integer Gini ((2*S1-(n+1)*S0)*1e6 div n*S0, tie-stable ranks)
        return A.gini_activity(_events(spark, sf_dir))

    def hhi_sources(spark, sf_dir):
        # per-lang source concentration: HHI + top share in micro-units
        # via ordered integer division (sq*1e6 div total div total)
        return A.hhi_sources(_docs(spark, sf_dir))

    def weighted_sample_eval(spark, sf_dir):
        # Horvitz–Thompson calibration of the SHIPPED weighted_sample
        # (w_max=300, salt ws0 — the driver row's config): all-integer
        # per-doc div contributions, ratio_milli ~ 1000 or the hash broke
        return A.weighted_sample_eval(_docs(spark, sf_dir), w_max=300)

    def lang_entropy_by_source(spark, sf_dir):
        # per-source language-mix Shannon entropy, bm25_batch recipe
        # (identical float tree floored to micro-nats before the sum)
        return A.lang_entropy_by_source(_docs(spark, sf_dir))

    def walk_skipgrams(spark, sf_dir):
        # DeepWalk corpus: ±2-step node pairs over the SHIPPED walker's
        # output (composition row — the walk oracle chain feeds a
        # self-join pair count)
        docs = _docs(spark, sf_dir)
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
        walks = A.random_walks(
            _ring_affine_hub_edges(spark, sf_dir), seeds, walk_len=4
        )
        return A.walk_skipgrams(walks, window=2)

    def bootstrap_ci(spark, sf_dir):
        # deterministic Poissonized bootstrap of mean n_chars: 64
        # replicates, multiplicities by inverse-CDF over salted u32
        # hashes vs the precomputed integer thresholds; rank-based
        # 10/90 interval, everything integer
        return A.bootstrap_ci(_docs(spark, sf_dir), b_reps=64)

    def cusum_anomaly(spark, sf_dir):
        # sustained-drift detector: integer CUSUM in closed window form
        # (prefix sum minus running min, everything scaled by n_days)
        return E.cusum_anomaly(_events(spark, sf_dir), h_means=2)

    def weekday_profile(spark, sf_dir):
        # weekly-rhythm chi-square vs uniform; dow = pmod(day-index, 7)
        # from the Monday anchor, never an engine dayofweek()
        return E.weekday_profile(_events(spark, sf_dir))

    def dispersion_report(spark, sf_dir):
        # Fano factor + lag-1 ACF of the per-type daily series, all
        # integer with sign peeled before division (zipf_fit rule)
        return E.dispersion_report(_events(spark, sf_dir))

    def lang_source_mi(spark, sf_dir):
        # lang x source mutual information + marginal entropies, one
        # ln per cell over integer products (bm25-recipe micro floors)
        return A.lang_source_mi(_docs(spark, sf_dir))

    def forecast_baselines(spark, sf_dir):
        # persistence vs seasonal-naive WAPE over daily counts,
        # calendar-correct day-k equi-joins, all-integer
        return E.forecast_baselines(_events(spark, sf_dir))

    def ab_null_check(spark, sf_dir):
        # A/A experiment-plumbing calibration: salted-md5 arm split,
        # two-proportion z^2 on first-3-days purchase conversion
        # (unbounded conversion saturates to 100% on this stream) —
        # should be small on a null split; big = biased bucketing
        return E.ab_null_check(_events(spark, sf_dir), within_days=3)

    def curation_v8(spark, sf_dir):
        # composed session-9 chain, ONE SQL oracle: deterministic
        # weighted subsample (ws0) → Gopher quality gate → frequent-
        # token fanout cap (corpus-level, the frequent_pairs_overflow
        # verdict) → source-focus gate (lang entropy ≤ 1.45 nats drops
        # 5-7 polyglot sources at the gate SFs) → per-(lang, shard)
        # dataset digest.  Corpus-level gates are computed on the FULL
        # corpus, not the subsample — support counts and source entropy
        # are corpus statistics.
        docs = _docs(spark, sf_dir)
        d1 = A.weighted_sample(docs, w_max=300, project=False).drop("w")
        kept_q = (
            A.quality_filter(d1)
            .filter(F.col("keep") == 1)
            .select("doc_id")
        )
        d2 = d1.join(kept_q, "doc_id")
        ov = A.frequent_pairs_overflow(
            docs, min_support=100, max_doc_tokens=29
        ).select("doc_id")
        d3 = d2.join(ov, "doc_id", "left_anti")
        focused = (
            A.lang_entropy_by_source(docs)
            .filter(F.col("entropy_micro") <= 1450000)
            .select("source")
        )
        d4 = d3.join(F.broadcast(focused), "source")
        return A.dataset_digest(d4, n_shards=8)

    def neyman_allocation(spark, sf_dir):
        # optimal stratified budget split: per-lang N*sigma weights via
        # the exact-isqrt chain, truncating allocation (sum <= 100)
        return A.neyman_allocation(_docs(spark, sf_dir), total_n=100)

    def bloom_eval(spark, sf_dir):
        # FPR calibration of the shipped bloom bitmap (shared
        # _bloom_bitmap path) over the corpus's distinct shingle
        # universe + the fill ratio that predicts it
        docs = _docs(spark, sf_dir)
        return A.bloom_eval(
            docs, docs.filter(F.col("doc_id") < 20), n=3, n_hashes=3,
            n_bits=4096,
        )

    def benford_values(spark, sf_dir):
        # first-digit chi2 vs the Benford reference: digits from the
        # integer-cents decimal string, per-cell identical float tree
        # floored to milli (bm25_batch recipe), 9-cell broadcast grid
        return E.benford_values(_events(spark, sf_dir))

    def rich_club(spark, sf_dir):
        # hub-clique density curve at deg cutoffs 5/6/8 (the fixture's
        # degree strata are 460@6, 30@7, 10@9) — k levels ride a 3-row
        # broadcast cross join so the edge stream is scanned once
        return A.rich_club(_ring_affine_hub_edges(spark, sf_dir))

    def dedup_components_tfidf(spark, sf_dir):
        # r5 session-8: LSS components over the TF-IDF cosine graph —
        # the fifth dedup family's cluster composition (300 planted
        # pairs at sf0.01 contract into their min-id components)
        return A.dedup_components_tfidf(
            _docs(spark, sf_dir), max_df=100, threshold_milli=300
        )

    def session_paths(spark, sf_dir):
        # r5 session-8: first-3-event session paths counted across
        # gap-based sessions — fixed-slot conditional aggregates, the
        # one place concat_ws's null skipping is the WANTED semantics
        return E.session_paths(_events(spark, sf_dir), gap_minutes=30, k=3)

    def quality_by_dup(spark, sf_dir):
        # r5 session-8: joint quality x duplication card over a corpus
        # with planted copies (doc_id%7 docs duplicated at +1e6 — the
        # raw corpus has ZERO exact dups, verified, so the fixture
        # plants them; the good_turing degenerate-fixture lesson)
        docs = _docs(spark, sf_dir)
        copies = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        return A.quality_by_dup(
            docs.select("doc_id", "text").unionByName(copies)
        )

    def harmonic_centrality(spark, sf_dir):
        # r5 session-8: landmark harmonic centrality from the %97 seed
        # set over the crawl_depth affine fixture graph — per-seed BFS
        # state, 1000 div d contributions, depth 4
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        edges = (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"),
                F.explode(
                    F.array(
                        *[
                            (F.col("doc_id") * 31 + 7 * j) % F.col("n")
                            for j in (1, 2, 3)
                        ]
                    )
                ).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("node")
        )
        return A.harmonic_centrality(edges, seeds, max_depth=4)

    def interarrival_histogram(spark, sf_dir):
        # r5 session-8: log2-bucketed gap histogram per event type —
        # epoch-microsecond diffs, bit-length buckets (the HLL rho
        # binary-length convention)
        return E.interarrival_histogram(_events(spark, sf_dir))

    def negative_samples(spark, sf_dir):
        # r5 session-8: k=4 salted uniform negatives per anchor —
        # md5-u32 offset in [1, n-1] so self-pairs are impossible
        return A.negative_samples(_docs(spark, sf_dir), k=4)

    def pii_report(spark, sf_dir):
        # r5 session-8: per-source PII audit card over residue-planted
        # PII (the corpus text is digit/@-free, verified for pii_scrub):
        # email on doc_id%3, ip on %5, phone on %7 — the oracle predicts
        # the per-source count arithmetic from the residues
        docs = _docs(spark, sf_dir)
        injected = docs.select(
            "source",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.lit(" mail user@example.com"),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 5 == 0, F.lit(" from 10.0.0.1")
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 7 == 0, F.lit(" tel 090-1234-5678")
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return A.pii_report(injected)

    def tfidf_neardup_pairs(spark, sf_dir):
        # r5 session-8: weighted near-dup pairs — TF-IDF cosine over
        # sub-cap terms, all-integer (milli-nat idf, isqrt norms); 300
        # planted archetype pairs survive at sf0.01, every one >= 500
        # milli (the df<=100 cap removes common-vocab co-occurrence)
        return A.tfidf_cosine_pairs(
            _docs(spark, sf_dir), max_df=100, threshold_milli=300
        )

    def tfidf_stop_terms(spark, sf_dir):
        # r5 session-8: the cap's loud companion — terms the df cap
        # excludes from the similarity (30 at sf0.01)
        return A.tfidf_stop_terms(_docs(spark, sf_dir), max_df=100)

    def temperature_mix(spark, sf_dir):
        # r5 session-8: alpha=0.5 source mixing weights — exact integer
        # sqrt (float sqrt + two corrections), truncating micro shares
        # and target doc counts against a 100k budget
        return A.temperature_mix(_docs(spark, sf_dir), budget=100_000)

    def table_profile(spark, sf_dir):
        # r5 session-8: per-column null/cardinality card over events —
        # one Expand-planned aggregate, vocab_growth-style unpivot
        return A.table_profile(_events(spark, sf_dir), _PROFILE_COLS)

    def kcore_nodes(spark, sf_dir):
        # r5 session-8: 2-core over a planted clique-core + binary-tree
        # periphery — the tree (doc_id -> doc_id div 2) peels layer by
        # layer (5 rounds at n=500, 8 at n=5000; rounds=9 covers both),
        # the K20 clique on doc_id < 20 survives as the exact core
        docs = _docs(spark, sf_dir)
        tree = docs.filter(F.col("doc_id") >= 1).select(
            F.col("doc_id").alias("src"),
            F.expr("doc_id div 2").alias("dst"),
        )
        clique = docs.filter(F.col("doc_id") < 20).select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    *[(F.col("doc_id") + j) % 20 for j in range(1, 11)]
                )
            ).alias("dst"),
        )
        return A.kcore(tree.unionByName(clique), k=2, rounds=9)

    def label_communities(spark, sf_dir):
        # r5 session-8: deterministic synchronous LPA over 10-node
        # planted communities (intra-group chords +1/+2/+3, one bridge
        # from each group head to the next) — converges by round 3 to
        # exactly the planted groups, labeled by their min member
        return A.label_propagation(
            _chord_community_edges(spark, sf_dir), rounds=4
        )

    def rake_keywords(spark, sf_dir):
        # r5 session-10: RAKE keyphrases over documents — maximal
        # non-stopword runs (delimiters 'the'/'a' + absent function
        # words), deg*1000 div freq word scores, integer phrase sums
        return A.rake_keywords(_docs(spark, sf_dir), k=50, max_len=6)

    def wildcard_search(spark, sf_dir):
        # r5 session-10: permuterm wildcard lookup — pre*suf rotates to
        # a suf$pre prefix probe against the rotation index; patterns
        # cover prefix-only, suffix-only, infix and a no-match probe
        return A.wildcard_search(
            _docs(spark, sf_dir), patterns=_WILDCARD_PATTERNS
        )

    def ks_two_sample(spark, sf_dir):
        # r5 session-10: exact-integer two-sample KS over token lengths
        # of src0 vs src1 — same generator, so the A/A verdict should
        # be reject_95 = 0 (distribution-shift alarm calibration)
        return A.ks_two_sample(
            _docs(spark, sf_dir),
            group_col="source", group_a="src0", group_b="src1",
        )

    def ams_f2(spark, sf_dir):
        # r5 session-10: tug-of-war F2 sketch scored against the exact
        # second moment of the unigram stream — 16 md5-signed sums per
        # TYPE, integer squares, mean-of-estimators
        return A.ams_f2(_docs(spark, sf_dir), k=16)

    def kwic_concordance(spark, sf_dir):
        # r5 session-10: keyword-in-context windows (w=3) around the
        # planted 'query' token — positional hits + one doc_id equi-join
        # back to the word array, row-level slices
        return A.kwic_concordance(
            _docs(spark, sf_dir), term="query", window=3
        )

    def kmeans_inertia(spark, sf_dir):
        # r5 session-10: Huygens within-cluster SS scorecard of the
        # shipped kmeans assignment — one floor-div per cluster, same
        # quantized space as the trainer
        return A.kmeans_inertia(_emb(spark, sf_dir), k=8, iters=2)

    def quality_drift(spark, sf_dir):
        # r5 session-10: per-source alpha-permille drift across ingest
        # batches (doc_id div 100) with a >150-permille flag verdict
        return A.quality_drift(
            _docs(spark, sf_dir), batch=100, flag_permille=150
        )

    def shuffle_eval(spark, sf_dir):
        # r5 session-10: adjacent same-source rate of the shipped epoch
        # shuffle vs the random-permutation expectation (sources are
        # doc_id%20 round-robin, so ingest order would score 0 — the
        # shuffle must land NEAR expectation, neither clumped nor
        # anti-clumped)
        return A.shuffle_eval(
            _docs(spark, sf_dir), n_shards=16, seed="epoch0"
        )

    def dedup_agreement(spark, sf_dir):
        # r5 session-10: exact-Jaccard (t=2/5) vs SimHash pair-set
        # agreement over the same corpus — both producers are the
        # shipped entry configurations
        return A.dedup_agreement(_docs(spark, sf_dir), jt_num=2, jt_den=5)

    def hilbert_layout(spark, sf_dir):
        # r5 session-10: Hilbert-curve file manifest over (user,
        # event-time) — the tighter-locality sibling of zorder_layout
        return A.hilbert_layout(
            _events_xy(spark, sf_dir), "user_id", "epoch_s"
        )

    def layout_locality(spark, sf_dir):
        # r5 session-10: zone-map area+perimeter report across the three
        # shipped layouts (linear / zorder / hilbert) at n_files=12 —
        # NOT a power of 4, where the two curves would tie (measured)
        return A.layout_locality(
            _events_xy(spark, sf_dir), "user_id", "epoch_s", n_files=12
        )

    def stylometry_delta(spark, sf_dir):
        # r5 session-10: Burrows' Delta distinctiveness per source over
        # the top-10 corpus tokens — isqrt sigma, sign-peeled z, offset
        # signed means
        return A.stylometry_delta(_docs(spark, sf_dir), m=10)

    def curation_v9(spark, sf_dir):
        # composed session-10 chain, ONE SQL oracle: epoch-shuffle
        # subsample (shards 0..11 of 16, the shipped plan) → Burrows'
        # style gate (source delta_milli <= 155, computed on the FULL
        # corpus — drops 5 sources at sf0.001) → per-doc alpha gate
        # (qa >= 812, the quality_drift convention) → release card:
        # stage survivor counts + an A/A KS check between the curated
        # set's doc_id-parity halves.  reject_95 is a REPORT, not an
        # invariant: sf0.001 draws 0; sf0.01's draw lands just over
        # the line (D=0.211 vs crit 0.202 at n=77/109 — the 1-in-20
        # A/A event on a 186-doc release; a real pipeline reruns the
        # check on the next snapshot before acting)
        docs = _docs(spark, sf_dir)
        plan = A.epoch_shuffle_plan(docs, n_shards=16, seed="epoch0")
        styled = (
            A.stylometry_delta(docs, m=10)
            .filter(F.col("delta_milli") <= 155)
            .select("source")
        )
        qa = F.expr(
            "length(regexp_replace(text, '[^a-zA-Z]', '')) * 1000"
            " div (length(text) + 1)"
        )
        # r6 (guide §2.4): the four stage counts were four separate
        # one-row aggregates, each re-executing its nested gate chain
        # (docs, docs⋈plan, ⋈styled, +qa filter).  One flag projection
        # computes all four in ONE pass — plan assigns exactly one
        # shard per doc_id and styled is one row per source, so the
        # left-join flags multiply no rows and the nested-filter counts
        # are the flag-product sums (a NULL qa row contributes no
        # s1*s2*s3 term, exactly as the filter dropped it).
        fl = (
            docs.join(
                plan.filter(F.col("shard") < 12)
                .select("doc_id", F.lit(1).alias("__s1")),
                "doc_id",
                "left",
            )
            .join(
                F.broadcast(styled.withColumn("__s2", F.lit(1))),
                "source",
                "left",
            )
            .select(
                "doc_id",
                "text",
                F.coalesce("__s1", F.lit(0)).alias("s1"),
                F.coalesce("__s2", F.lit(0)).alias("s2"),
                (qa >= 812).cast("int").alias("s3"),
            )
        )
        ks = A.ks_two_sample(
            fl.filter(
                (F.col("s1") == 1) & (F.col("s2") == 1) & (F.col("s3") == 1)
            ).select(
                "text",
                (F.col("doc_id") % 2).cast("string").alias("half"),
            ),
            group_col="half", group_a="0", group_b="1",
        )
        card = fl.agg(
            F.count(F.lit(1)).cast("long").alias("n_input"),
            F.coalesce(F.sum("s1"), F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce(F.sum(F.col("s1") * F.col("s2")), F.lit(0))
            .cast("long")
            .alias("n_styled"),
            F.coalesce(
                F.sum(F.col("s1") * F.col("s2") * F.col("s3")), F.lit(0)
            )
            .cast("long")
            .alias("n_quality"),
        )
        return card.crossJoin(F.broadcast(ks)).select(
            "n_input", "n_sampled", "n_styled", "n_quality",
            "n1", "n2", "d_num", "d_milli", "reject_95",
        )

    def tpch_market_share(spark, sf_dir):
        # r5 session-10: Q8-shaped national market share (NATION_2's
        # milli-share of ASIA's ECONOMY-part revenue per order year) —
        # completes the 22-query TPC-H shape breadth with Q9/Q17/Q20
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.market_share(
            rd("lineitem"), rd("orders"), rd("customer"),
            rd("supplier"), rd("nation"), rd("region"),
            region_name="ASIA", nation_name="NATION_2",
            p_type_part=rd("part").filter(F.col("p_type") == "ECONOMY"),
        )

    def tpch_product_profit(spark, sf_dir):
        # r5 session-10: Q9-shaped amount by supplier nation x year for
        # 'widget' parts (revenue stands in for profit — no partsupp
        # in the fixture, documented adaptation)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.product_profit(
            rd("lineitem"), rd("orders"), rd("part"),
            rd("supplier"), rd("nation"), name_word="widget",
        )

    def tpch_small_qty_revenue(spark, sf_dir):
        # r5 session-10: Q17-shaped small-quantity revenue for
        # Brand#13 — cross-multiplied 1/5-of-average threshold, the
        # correlated-subquery-to-aggregate-join rewrite
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.small_qty_revenue(rd("lineitem"), rd("part"))

    def tpch_promo_suppliers(spark, sf_dir):
        # r5 session-10: Q20-shaped promotion candidates — suppliers
        # shipping > 300 units of hot* parts in 1997 (availqty
        # correlation adapted to a shipped-qty threshold; median ~298
        # at both SFs so the gate bites)
        rd = lambda t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        return R.promo_suppliers(
            rd("lineitem"), rd("supplier"), rd("nation"), rd("part"),
        )

    def chao1_richness(spark, sf_dir):
        # r5 session-10: Chao1 unseen-vocabulary lower bound per lang
        # over TRIGRAMS (unigram f1=f2=0 on this corpus — the
        # good_turing vacuous-fixture lesson)
        return A.chao1_richness(_docs(spark, sf_dir), n=3)

    def markov_eval(spark, sf_dir):
        # r5 session-10: modal next-event hit rate of the shipped
        # markov_transitions matrix — a window over the matrix itself,
        # no second events pass
        return E.markov_eval(_events(spark, sf_dir))

    def simpson_diversity(spark, sf_dir):
        # r5 session-10: transcendental-free lang concentration per
        # source — exact rational pair probability
        return A.simpson_diversity(_docs(spark, sf_dir))

    def hill_tail_index(spark, sf_dir):
        # r5 session-10: Hill tail exponent of user activity, top-10
        # order statistics vs the 11th (only 15 users at sf0.001 —
        # keep k below the population)
        counts = (
            _events(spark, sf_dir)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("x"))
        )
        return A.hill_tail_index(counts, value_col="x", k=10)

    def markov_entropy_rate(spark, sf_dir):
        # r5 session-10: per-state branching entropy of the shipped
        # transition matrix — micro-nat floors, one ln per cell
        return E.markov_entropy_rate(_events(spark, sf_dir))

    def moments_sketch(spark, sf_dir):
        # r5 session-11: mergeable power-sum sketch per event type —
        # whole-currency units, S0..S4 + integer mean/var readouts
        return E.moments_sketch(_events(spark, sf_dir))

    def packing_eval(spark, sf_dir):
        # r5 session-11: scorecard of the SHIPPED pack_sequences bins —
        # fill rate and excess over the per-stream lower bound
        return A.packing_eval(_docs(spark, sf_dir))

    def psi_drift(spark, sf_dir):
        # r5 session-11: per-source PSI vs the corpus length
        # distribution — micro-floored terms, reported verdict bands
        return A.psi_drift(_docs(spark, sf_dir))

    def lm_heldout_ppl(spark, sf_dir):
        # r5 session-11: train-on-even / score-on-odd unigram
        # cross-entropy per lang (the perplexity-filter plumbing)
        return A.lm_heldout_ppl(_docs(spark, sf_dir))

    def item_similarity(spark, sf_dir):
        # r5 session-11: item-item user-set cosine over event types —
        # isqrt-exact, no transcendental
        return E.item_similarity(_events(spark, sf_dir))

    def rrf_fusion(spark, sf_dir):
        # r5 session-11: reciprocal-rank fusion of the shipped bm25 and
        # qlm runs over the shared query terms — integer reciprocals
        return A.rrf_fusion(
            _docs(spark, sf_dir), ["query", "scan", "window"], k_sys=15
        )

    def mann_whitney_u(spark, sf_dir):
        # r5 session-12: rank-sum location test src0 vs src1 (A/A
        # calibration — same generator, reject_95 should be 0);
        # doubled midranks, tie-corrected integer z^2 verdict
        return A.mann_whitney_u(
            _docs(spark, sf_dir),
            group_col="source", group_a="src0", group_b="src1",
        )

    def spearman_corr(spark, sf_dir):
        # r5 session-12: rank correlation of token count vs vocabulary
        # size per doc — centered doubled midranks keep the isqrt
        # radicand bounded; sign-peeled truncating div.  doc_id < 1000
        # bounds the fixture under the n<=1200 exactness guard at
        # every SF (the crawl_frontier fixture-bound convention)
        return A.spearman_corr(
            _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
        )

    def community_conductance(spark, sf_dir):
        # r5 session-12: per-community boundary leakiness of the
        # SHIPPED label_propagation output over the chord-community
        # graph (the modularity_eval pairing: same labels, the sweep-
        # cut objective instead of the null-model one) — planted
        # communities should be near-sealed (one bridge each)
        edges = _chord_community_edges(spark, sf_dir)
        labels = A.label_propagation(edges, rounds=4)
        return A.community_conductance(edges, labels)

    def wilson_quality_ci(spark, sf_dir):
        # r5 session-12: Wilson 95% interval on the per-source
        # quality_filter pass rate — z = 49/25, isqrt radicand,
        # 10^6-scaled truncating bounds; n = 25/source at the gate SFs
        # so the intervals are WIDE, which is the card's point
        return A.wilson_quality_ci(_docs(spark, sf_dir))

    def classifier_agreement(spark, sf_dir):
        # r5 session-12: Cohen's kappa between the rule-based
        # quality_filter verdict and the model-based hashed_linear_score
        # verdict — chance-corrected inter-rater agreement; with md5
        # stand-in weights kappa ~ 0 is the honest null read
        return A.classifier_agreement(_docs(spark, sf_dir))

    def score_pr_curve(spark, sf_dir):
        # r5 session-12: precision/recall/F1 sweep of hashed_linear_score
        # against quality_filter labels at six micro-unit thresholds —
        # ONE aggregate of conditional sums, unpivoted via literal
        # struct-array explode (the vocab_growth rule)
        return A.score_pr_curve(_docs(spark, sf_dir))

    def kendall_tau(spark, sf_dir):
        # r5 session-12: Kendall tau-b between token count and
        # distinct-token count — C/D from the joint CELL histogram's
        # inequality self-join (never a row-level O(n^2) pair join),
        # tie terms from the marginals, isqrt radicand, sign-peeled div
        return A.kendall_tau(
            _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
        )

    def heaps_fit(spark, sf_dir):
        # r5 session-12: Heaps'-law exponent over word TRIGRAMS (the
        # 31-type unigram vocabulary saturates instantly — good_turing
        # rule); vocab_growth counting plan + the zipf_fit signed OLS
        return A.heaps_fit(_docs(spark, sf_dir))

    def mad_outliers(spark, sf_dir):
        # r5 session-12: per-source median/MAD robust length outliers —
        # doubled order statistics (med2/mad4) keep the half-integer
        # medians exact; flag is the 2*dev2 > k*mad4 cross-multiply
        return A.mad_outliers(_docs(spark, sf_dir))

    def mann_kendall_trend(spark, sf_dir):
        # r5 session-12: per-type Mann-Kendall monotone-trend verdict
        # over daily counts — all-integer (pair signs, tie-corrected
        # variance, 625*18*(|S|-1)^2 > 2401*var_num cross-multiply)
        return E.mann_kendall_trend(_events(spark, sf_dir))

    def theil_sen_slope(spark, sf_dir):
        # r5 session-12: robust trend slope = med2 of the per-pair
        # floored milli-slopes (sign-peeled divs, histogram median)
        return E.theil_sen_slope(_events(spark, sf_dir))

    def jsd_drift(spark, sf_dir):
        # r5 session-12: Jensen-Shannon divergence between the even/odd
        # doc_id halves' unigram distributions — integer cross-ratio
        # ln args, per-term micro-nat floors, sign-peeled final divs;
        # the even/odd split is the A/A null (jsd_micro ~ 0)
        return A.jsd_drift(_docs(spark, sf_dir))

    def modularity_eval(spark, sf_dir):
        # r5 session-10: Newman-modularity scorecard of the SHIPPED
        # label_propagation output over the same chord-community graph
        # (the lsh_eval rule: score shipped code in-engine) — exact
        # integer decomposition q_num = 4*m*e_c - d_c^2 per community,
        # Q = sum(q_num)/(4 m^2); the planted communities should each
        # contribute positively (intra-dense, bridge-sparse)
        edges = _chord_community_edges(spark, sf_dir)
        labels = A.label_propagation(edges, rounds=4)
        return A.modularity(edges, labels)

    def k_anonymity(spark, sf_dir):
        # r5 session-7: privacy-release audit over the (lang, source,
        # len-band) quasi-identifier cells; risky = population < 5
        return A.k_anonymity(_docs(spark, sf_dir), k=5, band=500)

    def good_turing(spark, sf_dir):
        # r5 session-7: count-of-counts + GT discounted estimates over
        # the TRIGRAM stream (unigrams are too dense on this corpus —
        # min count 26, r<=10 empty), micro-units, integer throughout
        return A.good_turing(_docs(spark, sf_dir), n=3, max_r=10)

    def distinct_ngrams(spark, sf_dir):
        # r5 session-7: distinct-2 diversity permille per language —
        # two-level groupBy, never countDistinct's expand
        return A.distinct_ngrams(_docs(spark, sf_dir), n=2)

    def ngram_novelty(spark, sf_dir):
        # r5 session-7: 3-gram occurrence novelty by doc-id decile —
        # the crawl-freshness decay curve; first_doc via ONE
        # gram-partitioned window over (g, doc_id) aggregates
        return A.ngram_novelty(_docs(spark, sf_dir), n=3, n_buckets=10)

    def qlm_search(spark, sf_dir):
        # r5 session-7: Dirichlet query-likelihood retrieval over the
        # bm25 query terms — all-integer micro-nat scores (every ln
        # argument is a bigint), rank keys (score DESC, doc_id)
        return A.qlm_search(
            _docs(spark, sf_dir), ["query", "scan", "window"], k=15
        )

    def curriculum_order(spark, sf_dir):
        # r5 session-7: easy-first banded training order — alpha-permille
        # threshold bands + the epoch_shuffle md5 permutation within
        # (band, shard); one balanced exchange, no corpus sort
        return A.curriculum_order(_docs(spark, sf_dir), n_shards=16)

    def _eval_queries(docs):
        # retrieval-eval query set: every %25 doc contributes one query
        # of its first three DISTINCT words — truth doc = query_id (the
        # planted-relevance convention; both oracles replay the slice)
        ws = F.split("text", " ")
        return docs.filter(
            F.col("text").isNotNull() & (F.pmod("doc_id", 25) == 0)
        ).select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct(F.slice(ws, 1, 3))).alias("term"),
        )

    def bm25_batch(spark, sf_dir):
        # r5 session-7: many-query BM25 in one job — per-(q,d,t) double
        # contributions floored to micro-units BEFORE the order-free
        # integer sum; top-10 per query via a query-partitioned window
        docs = _docs(spark, sf_dir)
        return A.bm25_batch(docs, _eval_queries(docs), k=10)

    def retrieval_eval(spark, sf_dir):
        # r5 session-7: the SHIPPED batched ranker scored against the
        # planted truth (query_id = source doc) — hit@1/hit@10 and the
        # integer reciprocal-rank sum, the lsh_eval pattern
        docs = _docs(spark, sf_dir)
        return A.retrieval_eval(docs, _eval_queries(docs), k=10)

    def prf_terms(spark, sf_dir):
        # r5 session-7: RM1-style expansion terms from each query's
        # top-5 BM25 feedback docs, own terms excluded — integer
        # (tf_sum DESC, term) ranking over the shared query set
        docs = _docs(spark, sf_dir)
        return A.prf_terms(docs, _eval_queries(docs), fb_docs=5, k_terms=5)

    def kn_surprisal(spark, sf_dir):
        # r5 session-7: interpolated Kneser–Ney bigram surprisal per doc
        # (the KenLM-style signal one order up from bigram_surprisal) —
        # per-occurrence floored micro-nats, order-free integer sums
        return A.kn_surprisal(_docs(spark, sf_dir))

    def hybrid_search(spark, sf_dir):
        # r5 session-7: RRF fusion of the BM25 text ranking and the
        # exact-cosine ranking of the query doc's own embedding over the
        # %25 planted query set — integer rank fusion, both side ranks
        # already cross-engine deterministic
        docs = _docs(spark, sf_dir)
        return A.hybrid_search(
            docs, _emb(spark, sf_dir), _eval_queries(docs), k=10, k_each=20
        )

    def langid_eval(spark, sf_dir):
        # r5 session-7: confusion cells of the SHIPPED lang_id heuristic
        # vs the corpus truth label — truth rides the carry, no join-back
        return A.langid_eval(_docs(spark, sf_dir))

    def dup_rate_by_source(spark, sf_dir):
        # r5 session-7: per-source verbatim-repetition card (md5 groups
        # within source, two-level groupBy, null text excluded)
        return A.dup_rate_by_source(_docs(spark, sf_dir))

    def roc_auc(spark, sf_dir):
        # r5 session-13: threshold-free discrimination eval of the
        # SHIPPED hashed_linear_score vs quality_filter labels — the
        # doubled-midrank histogram AUC (window over the <=2001-value
        # score histogram, never the corpus); md5 stand-in weights
        # read ~500 milli, the honest null
        return A.roc_auc(_docs(spark, sf_dir))

    def score_reliability(spark, sf_dir):
        # r5 session-13: fixed-band reliability table of the shipped
        # scorer — per-band observed positive rate + lift over base,
        # one groupBy + one-row broadcast totals
        return A.score_reliability(_docs(spark, sf_dir))

    def cdc_apply(spark, sf_dir):
        # r5 session-13: MERGE INTO compaction of a synthesized change
        # stream (every %10 event a delete, rest upserts keyed by
        # user) — packed (ts,id) argmax + one co-partitioned join-back;
        # keys whose latest record is a delete are absent
        ev = _events(spark, sf_dir)
        changes = ev.select(
            F.col("user_id").alias("key"),
            F.when(F.pmod("event_id", 10) == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("event_type").alias("value"),
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 1000000"
            ).alias("ts"),
            F.col("event_id").alias("id"),
        )
        return E.cdc_apply(changes)

    def centroid_summary(spark, sf_dir):
        # r5 session-14: one-sentence extractive summary over the
        # sentence_split corpus (_C4_LINES pages + the Dr. Smith
        # plant) — distinct-token idf milli-nat sums, packed argmax
        # with lead-bias tiebreak
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        text2 = F.concat(
            F.expr(_C4_LINES),
            F.when(
                F.pmod("doc_id", 7) == 0,
                F.lit("\nDr. Smith arrived! Then left? Yes."),
            ).otherwise(F.lit("")),
        )
        return A.centroid_summary(docs.select("doc_id", text2.alias("text")))

    def kaplan_meier(spark, sf_dir):
        # r5 session-14: KM survival over user lifetimes, 7-day right-
        # censor window, log-survival in integer micro-nats.  The raw
        # stream is degenerate (every user active the full 30-day
        # window → all censored — probed before shipping, the
        # good_turing vacuous-fixture rule), so churn is PLANTED with a
        # per-user observation cutoff day = user_id%25 + 2: lifetimes
        # spread over ~2..26 and only cutoffs landing in the final week
        # censor (~6/25 of users)
        ev = _events(spark, sf_dir)
        day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        obs = ev.filter(day <= F.pmod("user_id", 25) + 2)
        return E.kaplan_meier(obs)

    def bipartite_check(spark, sf_dir):
        # r5 session-14: BFS 2-coloring over two planted ring graphs —
        # graph 'odd_deltas' (chords +1/+3/+5, all parity-flipping on
        # the even node count → bipartite) and 'parity_chord' (adds a
        # +2 chord on every %7 node → odd cycles inside the depth-8
        # reach of seed 0).  One card row per graph.
        docs = _docs(spark, sf_dir)
        n = docs.agg(F.count(F.lit(1)).cast("long").alias("__n"))
        base = docs.crossJoin(F.broadcast(n))
        d = F.explode(F.array(F.lit(1), F.lit(3), F.lit(5))).alias("d")
        odd = base.select("doc_id", "__n", d).select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") + F.col("d"), F.col("__n")).alias("dst"),
        )
        chord = base.filter(F.pmod("doc_id", 7) == 0).select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") + 2, F.col("__n")).alias("dst"),
        )
        seeds = spark.range(1).select(F.lit(0).cast("long").alias("node"))
        # overlap: the two graphs' BFS chains are independent and
        # latency-bound
        fa, fb = A.overlap(
            spark,
            lambda: A.bipartite_check(odd, seeds, max_depth=8).select(
                F.lit("odd_deltas").alias("graph"), "*"
            ),
            lambda: A.bipartite_check(
                odd.unionByName(chord), seeds, max_depth=8
            ).select(F.lit("parity_chord").alias("graph"), "*"),
        )
        return fa.unionByName(fb)

    def embedding_drift(spark, sf_dir):
        # r5 session-14: mean-vector drift card over two splits — the
        # natural vec_id-parity split (zero-centered corpus → the mean
        # direction is noise, |cos| small, top gap ~0.03) and a PLANTED
        # dim-0 shift (+0.25 on the odd half; double arithmetic is
        # engine-identical, the quantizer sees the same values) that
        # must surface top_dim=0 with delta ≈ 250000 micro
        emb = _emb(spark, sf_dir)
        half = F.pmod("vec_id", 2).cast("long").alias("half")
        base = emb.select("vec_id", "embedding", half)
        shifted = emb.select(
            "vec_id",
            F.expr(
                "concat(array(cast(embedding[0] as double)"
                " + case when vec_id % 2 = 1 then cast(0.25 as double)"
                " else cast(0 as double) end),"
                " transform(slice(embedding, 2, 63),"
                " x -> cast(x as double)))"
            ).alias("embedding"),
            half,
        )
        a = A.embedding_drift(base).select(
            F.lit("parity").alias("split"), "*"
        )
        b = A.embedding_drift(shifted).select(
            F.lit("dim0_shift").alias("split"), "*"
        )
        return a.unionByName(b)

    def _spoof_planted(docs):
        # confusable plant shared by mixed_script_spoof + curation_v10
        # (twin of the oracle's _spoof_ctes builder): %5 Cyrillic-а
        # paypal, %9 Greek-ο login, %4 a pure-cyrillic token that must
        # NOT flag (multilingual != spoof).  Unicode stays
        # \uXXXX-escaped in source (the nfc_normalize glyph lesson)
        text2 = F.concat(
            F.col("text"),
            F.when(F.pmod("doc_id", 5) == 0, F.lit(" p\u0430ypal"))
            .otherwise(F.lit("")),
            F.when(F.pmod("doc_id", 9) == 0, F.lit(" l\u03bfgin"))
            .otherwise(F.lit("")),
            F.when(
                F.pmod("doc_id", 4) == 0, F.lit(" \u043e\u043a")
            ).otherwise(F.lit("")),
        )
        return docs.select("doc_id", text2.alias("text"))

    def mixed_script_spoof(spark, sf_dir):
        # r5 session-14: homoglyph detection over the planted
        # confusable corpus (_spoof_planted)
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        return A.mixed_script_spoof(_spoof_planted(docs))

    def curation_v10(spark, sf_dir):
        # r5 session-14 composed chain, ONE SQL oracle: spoof gate
        # (drop docs whose planted view has ANY mixed-script token —
        # %5 ∪ %9 fall) → Gopher-style quality gate over the RAW text
        # (the shared _qf constants) → centroid summary over the
        # survivors' sentence-built view, reporting the LEAD-RATE
        # (docs whose winning sentence is sentence 0 — the
        # summarization-bias statistic a release card tracks)
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        spoof = A.mixed_script_spoof(_spoof_planted(docs))
        clean = spoof.filter(F.col("n_mixed") == 0).select("doc_id")
        d1 = docs.join(clean, "doc_id")
        kept = (
            A.quality_filter(d1)
            .filter(F.col("keep") == 1)
            .select("doc_id")
        )
        d2 = d1.join(kept, "doc_id")
        sent_text = F.concat(
            F.expr(_C4_LINES),
            F.when(
                F.pmod("doc_id", 7) == 0,
                F.lit("\nDr. Smith arrived! Then left? Yes."),
            ).otherwise(F.lit("")),
        )
        cs = A.centroid_summary(d2.select("doc_id", sent_text.alias("text")))
        # r6 (the curation_v9 count fusion): the three stage counts were
        # three separate aggregates, each re-executing its nested gate
        # chain.  quality_filter is a pure row-level projection (verdict
        # independent of the surrounding set) and `clean` is one row per
        # doc_id, so one flag pass computes all three counts.
        fl = (
            docs.join(clean.withColumn("__c1", F.lit(1)), "doc_id", "left")
            .join(
                A.quality_filter(docs).select(
                    "doc_id", F.col("keep").alias("__qk")
                ),
                "doc_id",
                "left",
            )
            .select(
                F.coalesce("__c1", F.lit(0)).alias("c1"),
                F.coalesce("__qk", F.lit(0)).alias("qk"),
            )
        )
        card = fl.agg(
            F.count(F.lit(1)).cast("long").alias("n_input"),
            F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n_unspoofed"),
            F.coalesce(F.sum(F.col("c1") * F.col("qk")), F.lit(0))
            .cast("long")
            .alias("n_quality"),
        )
        n_lead = cs.agg(
            F.sum((F.col("sent_pos") == 0).cast("long"))
            .cast("long")
            .alias("n_lead")
        )
        return card.crossJoin(F.broadcast(n_lead)).select(
            "n_input",
            "n_unspoofed",
            "n_quality",
            "n_lead",
            F.expr("n_lead * 1000 div n_quality").alias("lead_milli"),
        )

    def betweenness_approx(spark, sf_dir):
        # r5 session-14: landmark Brandes betweenness over the
        # crawl_depth affine fixture (same edges/seeds as
        # harmonic_centrality), depth 4 — σ counts multi-edges as
        # parallel paths on BOTH sides (no dedup anywhere)
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        edges = (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"),
                F.explode(
                    F.array(
                        *[
                            (F.col("doc_id") * 31 + 7 * j) % F.col("n")
                            for j in (1, 2, 3)
                        ]
                    )
                ).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("node")
        )
        return A.betweenness_approx(edges, seeds, max_depth=4)

    def distance_distribution(spark, sf_dir):
        # r5 session-14: landmark hop histogram + effective-diameter
        # flag over the affine fixture (same edges/seeds as
        # harmonic_centrality — _seed_bfs shared stage)
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        edges = (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"),
                F.explode(
                    F.array(
                        *[
                            (F.col("doc_id") * 31 + 7 * j) % F.col("n")
                            for j in (1, 2, 3)
                        ]
                    )
                ).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("node")
        )
        return A.distance_distribution(edges, seeds, max_depth=4)

    def katz_centrality(spark, sf_dir):
        # r5 session-14: landmark Katz (attenuated walk counts,
        # beta=1/4, len<=4) over the affine fixture — walks REVISIT
        # nodes, so counts differ from the BFS family by design
        docs = _docs(spark, sf_dir)
        n = docs.select(F.count(F.lit(1)).alias("n"))
        edges = (
            docs.select("doc_id")
            .crossJoin(F.broadcast(n))
            .select(
                F.col("doc_id").alias("src"),
                F.explode(
                    F.array(
                        *[
                            (F.col("doc_id") * 31 + 7 * j) % F.col("n")
                            for j in (1, 2, 3)
                        ]
                    )
                ).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("node")
        )
        return A.katz_centrality(edges, seeds, max_len=4)

    def mutual_nn_pairs(spark, sf_dir):
        # r5 session-14: mutual top-1 cosine pairs over the shipped
        # int8 quantization — the bitext-mining criterion; exact-pair
        # baseline, guarded at scale
        return A.mutual_nn_pairs(_emb(spark, sf_dir))

    def dp_release(spark, sf_dir):
        # r5 session-14: eps=1.0 Laplace count release per source —
        # one salted hash, one noise value per group; n_true rides
        # along only for the oracle check (a real release drops it)
        return A.dp_release(_docs(spark, sf_dir))

    def seasonal_strength(spark, sf_dir):
        # r5 session-14: weekly-profile variance share over daily
        # volumes.  The raw stream is near-uniform (strength ~ 0), so
        # seasonality is PLANTED: slots 0-1 keep only every 3rd event
        # (a ~2/3 volume dip — the weekend shape)
        ev = _events(spark, sf_dir)
        day = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        obs = ev.filter(
            (F.pmod(day, 7) >= 2) | (F.pmod("event_id", 3) == 0)
        )
        return E.seasonal_strength(obs)

    def snapshot_line_diff(spark, sf_dir):
        # r5 session-14: line churn between consecutive recrawl
        # snapshots — the _revisit_snaps fixture (tie-heavy ts) plus
        # per-fetch line sets L0..L9 gated by (doc_id + 7j) % 11 > 3,
        # so consecutive fetches share most but not all lines
        snaps = _revisit_snaps(_docs(spark, sf_dir)).withColumn(
            "text",
            F.expr(
                "concat_ws('\n', filter(transform(sequence(0, 9),"
                " j -> case when (doc_id + j * 7) % 11 > 3"
                " then concat('L', cast(j as string)) else '' end),"
                " x -> x <> ''))"
            ),
        )
        return A.snapshot_line_diff(snaps)

    def crawl_value_rank(spark, sf_dir):
        # r5 session-14 composed crawl scheduler: PageRank (worth) x
        # change rate (volatility) = expected value of a recrawl —
        # pagerank node k maps to revisit url 'u<k>'; top-20 via
        # orderBy().limit() (TakeOrderedAndProject, the top_suppliers
        # pattern: rank derived over the k survivors)
        docs = _docs(spark, sf_dir)
        pr = A.pagerank(pagerank_edges_sql(docs), iters=3)
        ch = A.recrawl_priority(_revisit_snaps(docs))
        joined = ch.join(
            pr.select(
                F.concat(F.lit("u"), F.col("node").cast("string")).alias(
                    "url"
                ),
                "rank_micro",
            ),
            "url",
        )
        val = joined.select(
            "url",
            "rank_micro",
            "change_milli",
            F.expr("rank_micro * change_milli div 1000").alias(
                "value_micro"
            ),
        )
        top = val.orderBy(
            F.col("value_micro").desc(), F.col("url").asc()
        ).limit(20)
        return top.withColumn(
            "rank",
            F.expr(
                "row_number() over (order by value_micro desc, url asc)"
            ).cast("int"),
        )

    def hub_removal_impact(spark, sf_dir):
        # r5 session-14: seed-reach resilience to hub failure over the
        # ring+affine+hub fixture — the %50 hubs are the genuine
        # top-out-degree nodes, so the top-10 cut removes real
        # shortcuts; seeds %97
        docs = _docs(spark, sf_dir)
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("node")
        )
        return A.hub_removal_impact(
            _ring_affine_hub_edges(spark, sf_dir), seeds, k=10, max_depth=6
        )

    def quality_percentile_by_source(spark, sf_dir):
        # r5 session-14: per-source percentile normalization of the
        # alpha-ratio score — the fair cross-source threshold primitive
        return A.quality_percentile_by_source(_docs(spark, sf_dir))

    def label_centroid_profile(spark, sf_dir):
        # r5 session-14: per-label centroid vs global-mean card over
        # the embeddings table's label column (10 clusters)
        return A.label_centroid_profile(_emb(spark, sf_dir))

    def weighted_median_quality(spark, sf_dir):
        # r5 session-14: word-count-weighted median alpha-ratio per
        # source — the 'median byte' quality center
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        rows = docs.select(
            "source",
            "doc_id",
            F.expr(
                "length(regexp_replace(text, '[^a-zA-Z]', '')) * 1000"
                " div (length(text) + 1)"
            ).alias("value"),
            F.expr("size(split(text, ' '))").cast("long").alias("w"),
        )
        return A.weighted_median_by_group(rows)

    def host_path_entropy(spark, sf_dir):
        # r5 session-14: per-host template-distribution entropy over
        # the url_templates fixture — low-entropy hosts are the
        # catalog/trap shape
        docs = _docs(spark, sf_dir)
        h = F.pmod("doc_id", 7).cast("string")
        did = F.col("doc_id").cast("string")
        r = F.pmod("doc_id", 5)
        url = (
            F.when(
                F.pmod("doc_id", 251) == 0,
                F.concat(F.lit("https://h"), h, F.lit(".example/one-off-"),
                         did, F.lit("-x")),
            )
            .when(r == 0, F.concat(F.lit("https://h"), h,
                                   F.lit(".example/p/"), did))
            .when(r == 1, F.concat(F.lit("https://h"), h, F.lit(".example/2024/"),
                                   F.pmod("doc_id", 12).cast("string"),
                                   F.lit("/post-"), did))
            .when(r == 2, F.concat(F.lit("https://h"), h, F.lit(".example/tag/t"),
                                   F.pmod("doc_id", 7).cast("string")))
            .when(r == 3, F.concat(F.lit("https://u5@H"), h,
                                   F.lit(".Example:8080/search?q=x"), did,
                                   F.lit("&page="), did))
            .otherwise(F.concat(F.lit("h"), h, F.lit(".example/p/"), did))
        )
        return A.host_path_entropy(docs.select(url.alias("url")))

    def badwords_filter(spark, sf_dir):
        # r5 session-7: C4 wordlist gate over planted flags — ' zetaflag'
        # on %7 docs, ' OmegaFlag!' on %11 (case+punct must not smuggle
        # it past the lowercased-alpha-run matcher); neither placeholder
        # occurs in the base corpus (verified), so the oracle is
        # closed-form in the residues
        docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
        planted = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.pmod("doc_id", 7) == 0, F.lit(" zetaflag here")
                ).otherwise(F.lit("")),
                F.when(
                    F.pmod("doc_id", 11) == 0, F.lit(" so OmegaFlag!")
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return A.badwords_filter(planted, ["zetaflag", "omegaflag"])

    return {
        # ------------------------------------------------------------------
        # ORDERING INVARIANT (VERDICT r4 #1): failed-first.  The driver may
        # cap how many queries it value-checks per round, so the dict lists
        # latest-check-FAILED entries first, then never-driver-checked ones,
        # then greens stalest-first (r2, r3, r4).  Regenerate after each
        # round from CORRECTNESS_r0*.json keys (script in CLAUDE.md).
        # ------------------------------------------------------------------
        # latest driver check FAILED (r3 harness red; r4-fixed, locally green):
        "inverted_index": inverted_index,
        "quantize_embeddings": quantize_embeddings,
        # never driver-checked (new this round):
        "roc_auc": roc_auc,
        "score_reliability": score_reliability,
        "cdc_apply": cdc_apply,
        "centroid_summary": centroid_summary,
        "kaplan_meier": kaplan_meier,
        "bipartite_check": bipartite_check,
        "embedding_drift": embedding_drift,
        "mixed_script_spoof": mixed_script_spoof,
        "betweenness_approx": betweenness_approx,
        "distance_distribution": distance_distribution,
        "curation_v10": curation_v10,
        "katz_centrality": katz_centrality,
        "mutual_nn_pairs": mutual_nn_pairs,
        "dp_release": dp_release,
        "seasonal_strength": seasonal_strength,
        "snapshot_line_diff": snapshot_line_diff,
        "crawl_value_rank": crawl_value_rank,
        "hub_removal_impact": hub_removal_impact,
        "quality_percentile_by_source": quality_percentile_by_source,
        "label_centroid_profile": label_centroid_profile,
        "weighted_median_quality": weighted_median_quality,
        "host_path_entropy": host_path_entropy,
        "modularity_eval": modularity_eval,
        "rake_keywords": rake_keywords,
        "wildcard_search": wildcard_search,
        "ks_two_sample": ks_two_sample,
        "ams_f2": ams_f2,
        "kwic_concordance": kwic_concordance,
        "kmeans_inertia": kmeans_inertia,
        "quality_drift": quality_drift,
        "shuffle_eval": shuffle_eval,
        "dedup_agreement": dedup_agreement,
        "hilbert_layout": hilbert_layout,
        "layout_locality": layout_locality,
        "stylometry_delta": stylometry_delta,
        "curation_v9": curation_v9,
        "chao1_richness": chao1_richness,
        "markov_eval": markov_eval,
        "simpson_diversity": simpson_diversity,
        "hill_tail_index": hill_tail_index,
        "markov_entropy_rate": markov_entropy_rate,
        "moments_sketch": moments_sketch,
        "packing_eval": packing_eval,
        "psi_drift": psi_drift,
        "lm_heldout_ppl": lm_heldout_ppl,
        "item_similarity": item_similarity,
        "rrf_fusion": rrf_fusion,
        "mann_whitney_u": mann_whitney_u,
        "spearman_corr": spearman_corr,
        "community_conductance": community_conductance,
        "wilson_quality_ci": wilson_quality_ci,
        "classifier_agreement": classifier_agreement,
        "score_pr_curve": score_pr_curve,
        "kendall_tau": kendall_tau,
        "heaps_fit": heaps_fit,
        "mad_outliers": mad_outliers,
        "mann_kendall_trend": mann_kendall_trend,
        "theil_sen_slope": theil_sen_slope,
        "jsd_drift": jsd_drift,
        "tpch_market_share": tpch_market_share,
        "tpch_product_profit": tpch_product_profit,
        "tpch_small_qty_revenue": tpch_small_qty_revenue,
        "tpch_promo_suppliers": tpch_promo_suppliers,
        "bowtie_components": bowtie_components,
        "scd2_intervals": scd2_intervals,
        "rfm_segments": rfm_segments,
        "zorder_layout": zorder_layout,
        "zorder_pruning": zorder_pruning,
        "champion_lists": champion_lists,
        "champion_search_eval": champion_search_eval,
        "tpch_min_cost_supplier": tpch_min_cost_supplier,
        "tpch_important_parts": tpch_important_parts,
        "ktruss_edges": ktruss_edges,
        "kcenter_coreset": kcenter_coreset,
        "tpch_revenue_delta": tpch_revenue_delta,
        "tpch_returned_items": tpch_returned_items,
        "tpch_late_line_priority": tpch_late_line_priority,
        "tpch_supplier_part_types": tpch_supplier_part_types,
        "tpch_discounted_revenue": tpch_discounted_revenue,
        "tpch_waiting_suppliers": tpch_waiting_suppliers,
        "tpch_idle_customers": tpch_idle_customers,
        "rolling_active_users": rolling_active_users,
        "chi2_terms": chi2_terms,
        "random_walks": random_walks,
        "skipgram_pairs": skipgram_pairs,
        "frequent_pairs": frequent_pairs,
        "frequent_pairs_overflow": frequent_pairs_overflow,
        "gini_activity": gini_activity,
        "hhi_sources": hhi_sources,
        "weighted_sample_eval": weighted_sample_eval,
        "lang_entropy_by_source": lang_entropy_by_source,
        "walk_skipgrams": walk_skipgrams,
        "bootstrap_ci": bootstrap_ci,
        "cusum_anomaly": cusum_anomaly,
        "weekday_profile": weekday_profile,
        "dispersion_report": dispersion_report,
        "rich_club": rich_club,
        "lang_source_mi": lang_source_mi,
        "forecast_baselines": forecast_baselines,
        "ab_null_check": ab_null_check,
        "curation_v8": curation_v8,
        "neyman_allocation": neyman_allocation,
        "bloom_eval": bloom_eval,
        "benford_values": benford_values,
        "orc_roundtrip": orc_roundtrip,
        "t_closeness": t_closeness,
        "readability": readability,
        "tpch_large_orders": tpch_large_orders,
        "tpch_volume_shipping": tpch_volume_shipping,
        "ndcg_eval": ndcg_eval,
        "events_interval_join": events_interval_join,
        "adamic_adar": adamic_adar,
        "adamic_adar_overflow": adamic_adar_overflow,
        "l_diversity": l_diversity,
        "clustering_coefficient": clustering_coefficient,
        "degree_assortativity": degree_assortativity,
        "link_reciprocity": link_reciprocity,
        "events_markov": events_markov,
        "lexical_diversity": lexical_diversity,
        "kcore_nodes": kcore_nodes,
        "label_communities": label_communities,
        "temperature_mix": temperature_mix,
        "table_profile": table_profile,
        "tfidf_neardup_pairs": tfidf_neardup_pairs,
        "tfidf_stop_terms": tfidf_stop_terms,
        "harmonic_centrality": harmonic_centrality,
        "interarrival_histogram": interarrival_histogram,
        "negative_samples": negative_samples,
        "pii_report": pii_report,
        "dedup_components_tfidf": dedup_components_tfidf,
        "session_paths": session_paths,
        "quality_by_dup": quality_by_dup,
        "tpch_order_priority": tpch_order_priority,
        "tpch_customer_distribution": tpch_customer_distribution,
        "tfidf_eval": tfidf_eval,
        "events_attribution": events_attribution,
        "k_anonymity": k_anonymity,
        "good_turing": good_turing,
        "distinct_ngrams": distinct_ngrams,
        "ngram_novelty": ngram_novelty,
        "qlm_search": qlm_search,
        "curriculum_order": curriculum_order,
        "bm25_batch": bm25_batch,
        "retrieval_eval": retrieval_eval,
        "langid_eval": langid_eval,
        "dup_rate_by_source": dup_rate_by_source,
        "badwords_filter": badwords_filter,
        "hybrid_search": hybrid_search,
        "kn_surprisal": kn_surprisal,
        "prf_terms": prf_terms,
        "extract_lists_roundtrip": extract_lists_roundtrip,
        "list_stats": list_stats,
        "compaction_plan": compaction_plan,
        "textrank_keywords": textrank_keywords,
        "events_anomaly": events_anomaly,
        "oov_rate": oov_rate,
        "rendezvous_shards": rendezvous_shards,
        "postings_gap_stats": postings_gap_stats,
        "domain_quality_prior": domain_quality_prior,
        "phrase_search": phrase_search,
        "crawl_depth": crawl_depth,
        "weighted_sample": weighted_sample,
        "embedding_lsh_eval": embedding_lsh_eval,
        "simhash_eval": simhash_eval,
        "recrawl_priority": recrawl_priority,
        "personalized_ppr": personalized_ppr,
        "index_merge": index_merge,
        "bpe_fertility": bpe_fertility,
        "positional_index": positional_index,
        "proximity_search": proximity_search,
        "search_snippets": search_snippets,
        "events_retention": events_retention,
        "pmi_collocations": pmi_collocations,
        "triangle_count": triangle_count,
        "dataset_digest": dataset_digest,
        "redirect_resolve": redirect_resolve,
        "zipf_fit": zipf_fit,
        "co_citation": co_citation,
        "warc_revisit": warc_revisit,
        "feed_urls": feed_urls,
        "http_dates": http_dates,
        "robots_sitemaps": robots_sitemaps,
        "curation_v7": curation_v7,
        "mirror_hosts": mirror_hosts,
        "lsh_eval": lsh_eval,
        "stopword_lists": stopword_lists,
        "shard_skew_report": shard_skew_report,
        "dedup_components_editdist": dedup_components_editdist,
        "kmv_sketches": kmv_sketches,
        "kmv_estimate": kmv_estimate,
        "kmv_lang_jaccard": kmv_lang_jaccard,
        "co_citation_overflow": co_citation_overflow,
        "degree_histogram": degree_histogram,
        "editdist_pairs": editdist_pairs,
        "hashed_linear_score": hashed_linear_score,
        "epoch_shuffle": epoch_shuffle,
        "group_sample": group_sample,
        "snapshot_retention": snapshot_retention,
        "extract_headings": extract_headings,
        "heading_stats": heading_stats,
        "vocab_growth": vocab_growth,
        "component_histogram": component_histogram,
        "split_leakage": split_leakage,
        "hits_links": hits_links,
        "events_funnel": events_funnel,
        "minhash_jaccard_est": minhash_jaccard_est,
        "wat_roundtrip": wat_roundtrip,
        "hll_by_lang": hll_by_lang,
        "jsonl_roundtrip": jsonl_roundtrip,
        "extract_committed": extract_committed,
        "boilerplate_lines": boilerplate_lines,
        "scrub_boilerplate": scrub_boilerplate,
        "latest_snapshot": latest_snapshot,
        "gopher_rules": gopher_rules,
        "curation_v5": curation_v5,
        "dedup_canonical": dedup_canonical,
        "crawl_frontier": crawl_frontier,
        "budget_select": budget_select,
        "crawl_diff": crawl_diff,
        "wet_roundtrip": wet_roundtrip,
        "url_blocklist": url_blocklist,
        "jaccard_prefix": jaccard_prefix,
        "dedup_components_prefix": dedup_components_prefix,
        "nfc_normalize": nfc_normalize,
        "paragraph_dedup": paragraph_dedup,
        "script_profile": script_profile,
        "extract_tables_roundtrip": extract_tables_roundtrip,
        "table_kv": table_kv,
        "cdx_index": cdx_index,
        "sentence_split": sentence_split,
        "curation_v6": curation_v6,
        "meta_robots": meta_robots,
        "politeness_schedule": politeness_schedule,
        "containment_pairs": containment_pairs,
        "url_templates": url_templates,
        "lang_profile": lang_profile,
        # last checked in round 2 (stalest greens):
        "quality_scores": quality_scores,
        "fingerprints": fingerprints,
        "token_rarity": token_rarity,
        "rolling_fingerprints": rolling_fingerprints,
        "dedup_exact": dedup_exact,
        "chunk_docs": chunk_docs,
        "minhash_signatures": minhash_signatures,
        "minhash_lsh_buckets": minhash_lsh_buckets,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "simhash": simhash,
        "dedup_components": dedup_components,
        "dedup_components_lss": dedup_components,  # the same solver
        "knn_bruteforce": knn_bruteforce,
        "embedding_neardup": embedding_neardup,
        "embedding_lsh_buckets": embedding_lsh_buckets,
        "embedding_neardup_lsh": embedding_neardup_lsh,
        "ivf_topk": ivf_topk,
        "events_hourly": events_hourly,
        "events_sessionize": events_sessionize,
        "events_top_users": events_top_users,
        "events_asof_join": events_asof_join,
        "events_type_totals_salted": events_type_totals_salted,
        "docs_rollup": docs_rollup,
        "token_set_ops": token_set_ops,
        "docs_above_lang_avg": docs_above_lang_avg,
        "tpch_pricing_summary": tpch_pricing_summary,
        # last checked in round 3:
        "simhash_neardup_pairs": simhash_neardup_pairs,
        "simhash_overflow": simhash_overflow,
        "incremental_dedup": incremental_dedup,
        "dedup_components_simhash": dedup_components_simhash,
        "tfidf_top_terms": tfidf_top_terms,
        "quality_filter": quality_filter,
        "term_search": term_search,
        "bm25_search": bm25_search,
        "dedup_components_embedding": dedup_components_embedding,
        "unigram_surprisal": unigram_surprisal,
        "pagerank_links": pagerank_links,
        "extract_links_roundtrip": extract_links_roundtrip,
        "pagerank_extracted_hosts": pagerank_extracted_hosts,
        "quantized_knn": quantized_knn,
        "curation_v3": curation_v3,
        "corpus_report": corpus_report,
        "pdf_extract_roundtrip": pdf_extract_roundtrip,
        "warc_extract_roundtrip": warc_extract_roundtrip,
        "stratified_sample": stratified_sample,
        "domain_stats": domain_stats,
        "tpch_promo_share": tpch_promo_share,
        "tpch_shipping_priority": tpch_shipping_priority,
        "media_resize_plan": media_resize_plan,
        "doc_length_quantiles": doc_length_quantiles,
        "tpch_top_suppliers": tpch_top_suppliers,
        "tpch_region_revenue": tpch_region_revenue,
        "media_features": media_features,
        "frame_sample_plan": frame_sample_plan,
        "ivf_fixed_topk": ivf_fixed_topk,
        "extract_spans_multiblock": extract_spans_multiblock,
        "embedding_neardup_lsh_capped": embedding_neardup_lsh_capped,
        "embedding_lsh_overflow": embedding_lsh_overflow,
        "minhash_lsh_capped": minhash_lsh_capped,
        "repetition_signals": repetition_signals,
        "pii_scrub": pii_scrub,
        "chunk_hash_dedup": chunk_hash_dedup,
        "train_split_assign": train_split_assign,
        "pack_sequences": pack_sequences,
        "winnowing_fingerprints": winnowing_fingerprints,
        "decontaminate": decontaminate,
        "canonicalize_urls": canonicalize_urls,
        "mixture_weights": mixture_weights,
        "curation_full": curation_full,
        "dedup_components_minhash": dedup_components_minhash,
        "extract_roundtrip": extract_roundtrip,
        "extract_boilerplate": extract_boilerplate,
        "extract_block_select2": extract_block_select2,
        "extract_block_select3": extract_block_select3,
        # last checked in round 4 (freshest):
        "cdc_chunks": cdc_chunks,
        "cdc_chunk_dedup": cdc_chunk_dedup,
        "sitemap_urls": sitemap_urls,
        "curation_v4": curation_v4,
        "c4_line_filter": c4_line_filter,
        "ccnet_buckets": ccnet_buckets,
        "robots_rules": robots_rules,
        "robots_filter": robots_filter,
        "dsir_weights": dsir_weights,
        "dsir_topk": dsir_topk,
        "host_anchor_terms": host_anchor_terms,
        "length_percentiles": length_percentiles,
        "bigram_surprisal": bigram_surprisal,
        "decontaminate_fraction": decontaminate_fraction,
        "host_rebalance": host_rebalance,
        "kmeans_clusters": kmeans_clusters,
        "semantic_dedup": semantic_dedup,
        "semantic_dedup_overflow": semantic_dedup_overflow,
        "hll_registers": hll_registers,
        "hll_estimate": hll_estimate,
        "cms_topk": cms_topk,
        "pq_codes": pq_codes,
        "pq_topk": pq_topk,
        "ivfpq_topk": ivfpq_topk,
        "bloom_decontaminate": bloom_decontaminate,
        "bpe_merges": bpe_merges,
        "bpe_token_counts": bpe_token_counts,
        "pagerank_dangling": pagerank_dangling,
        "substring_dedup": substring_dedup,
        "substring_scrub": substring_scrub,
        "extract_spans_roundtrip": extract_spans_roundtrip,
        "extract_keywords": extract_keywords,
        "extract_debug_density": extract_debug_density,
        "extract_br_runs": extract_br_runs,
        "extract_entities": extract_entities,
        "extract_sjis_detect": extract_sjis_detect,
        "extract_iso2022jp": extract_iso2022jp,
        "extract_utf16_roundtrip": extract_utf16_roundtrip,
        "extract_title_meta": extract_title_meta,
        "extract_debug_blocks": extract_debug_blocks,
        "extract_gauntlet": extract_gauntlet,
        "curation_pipeline": curation_pipeline,
        "extract_flagship": extract_flagship,
        "extract_spans": extract_spans,
        "extract_lineage": extract_lineage,
        "docs_per_lang": docs_per_lang,
        "doc_length_stats": doc_length_stats,
        "token_counts": token_counts,
        "token_counts_bpe": token_counts_bpe,
        "lang_id": lang_id,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_RING_AFFINE_HUB_CTE = """
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            e0 AS (SELECT doc_id AS src,
                          CASE j WHEN 1 THEN (doc_id + 1) % n
                                 WHEN 2 THEN (doc_id + 2) % n
                                 WHEN 3 THEN (doc_id * 31 + 7) % n
                                 WHEN 4 THEN (doc_id + 3) % n
                                 WHEN 5 THEN (doc_id + 4) % n
                                 ELSE (doc_id + 5) % n END AS dst
                   FROM documents, nn,
                        (SELECT unnest([1, 2, 3, 4, 5, 6]) AS j) js
                   WHERE j <= 3 OR doc_id % 50 = 0),
            e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e1 GROUP BY src)"""
"""ring+affine+hub edge fixture (dedup'd directed edges + out-degrees) —
ONE definition shared by the co_citation / co_citation_overflow /
degree_histogram / degree_assortativity oracles, mirroring
_ring_affine_hub_edges."""


def _walk_ctes(walk_len: int, as_cte: bool = False) -> str:
    """Unrolled per-step walk CTEs over the _RING_AFFINE_HUB_CTE edge set
    (e1): w0 = the %97 seeds, w{s} = per-walk packed argmin over the
    out-neighbors, cur = packed % 2^32 — the exact Spark expression
    (min(hv·2³²+dst) with hv = first 7 md5 hex digits; hv < 2²⁸ so the
    pack stays under 2⁶⁰).  Linear CTE chain: each w{s} references only
    w{s-1}, so DuckDB's per-reference CTE inlining stays linear (the
    k-core 3^rounds re-expansion trap does not apply); e1 is referenced
    once per step.  as_cte=True wraps the step union as a MATERIALIZED
    `walks` CTE for composed oracles (walk_skipgrams)."""
    ctes = [
        "w0 AS (SELECT CAST(doc_id AS BIGINT) AS walk_id,"
        " CAST(doc_id AS BIGINT) AS cur"
        " FROM documents WHERE doc_id % 97 = 0)"
    ]
    for s in range(1, walk_len + 1):
        hv = _hex_int_sql(
            "md5(CAST(walk_id AS VARCHAR) || "
            f"':{s}:' || CAST(dst AS VARCHAR))",
            1,
            7,
        )
        ctes.append(
            f"w{s} AS (SELECT walk_id,"
            f" min({hv} * 4294967296 + dst) % 4294967296 AS cur"
            f" FROM w{s - 1} JOIN e1 ON w{s - 1}.cur = e1.src"
            " GROUP BY walk_id)"
        )
    union = "\n            UNION ALL ".join(
        f"SELECT walk_id, CAST({s} AS INT) AS step,"
        f" CAST(cur AS BIGINT) AS node FROM w{s}"
        for s in range(walk_len + 1)
    )
    if as_cte:
        return (
            ",\n            ".join(ctes)
            + ",\n            walks AS MATERIALIZED (\n            "
            + union
            + ")"
        )
    return ",\n            ".join(ctes) + "\n            " + union


_TRI_CTES = """
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                        FROM documents),
            e0 AS (SELECT doc_id AS src,
                          CASE WHEN j = 1 THEN (doc_id + 1) % n
                               WHEN j = 2 THEN (doc_id + 2) % n
                               ELSE (doc_id * 31 + 7) % n END AS dst
                   FROM documents, nn,
                        (SELECT unnest([1, 2, 3]) AS j) js),
            e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
            und AS (SELECT DISTINCT least(src, dst) AS lo,
                                    greatest(src, dst) AS hi
                    FROM e1),
            degp AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                     FROM (SELECT lo AS node FROM und
                           UNION ALL SELECT hi FROM und)
                     GROUP BY node),
            deg AS (SELECT node, deg * 4294967296 + node AS key
                    FROM degp),
            orient AS (SELECT CASE WHEN kl.key < kh.key THEN kl.key
                                   ELSE kh.key END AS ku,
                              CASE WHEN kl.key < kh.key THEN kh.key
                                   ELSE kl.key END AS kv
                       FROM und
                       JOIN deg kl ON kl.node = und.lo
                       JOIN deg kh ON kh.node = und.hi),
            wed AS (SELECT a.ku AS u, a.kv AS v, b.kv AS w
                    FROM orient a JOIN orient b
                      ON a.ku = b.ku AND a.kv < b.kv),
            tri AS (SELECT u, v, w FROM wed
                    JOIN orient o ON o.ku = wed.v AND o.kv = wed.w),
            nk AS (SELECT u AS key FROM tri
                   UNION ALL SELECT v FROM tri
                   UNION ALL SELECT w FROM tri),
            tric AS (SELECT CAST(key % 4294967296 AS BIGINT) AS node,
                            CAST(count(*) AS BIGINT) AS triangles
                     FROM nk GROUP BY key)"""
"""degree-ordered-orientation triangle chain over the ring+affine
fixture (packed (deg*2^32+node) total-order key, expression-for-
expression the Spark side) — ONE definition shared by the
triangle_count / clustering_coefficient oracles."""


def _kcore_ctes(k: int, rounds: int, src: str = "ee") -> str:
    """Unrolled k-core peel chain (the pagerank-oracle convention —
    DuckDB recursive CTEs cannot aggregate): und0 = canonical
    undirected edges from `src`(src, dst); each round computes degrees,
    keeps nodes with deg >= k, and semi-filters the edge set.  Running
    rounds past the fixpoint is the identity, so a fixed unroll equals
    Spark's early-stopping loop whenever rounds >= peel depth
    (analysis.kcore docstring).

    und{r}/k{r} are AS MATERIALIZED: DuckDB inlines plain CTEs per
    reference and each round references the previous edge set 3x, so
    an un-materialized unroll re-expands the base parquet scan
    3^rounds times ("Too many open files" at rounds=9)."""
    parts = [
        f"""und0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS lo,
                                     greatest(src, dst) AS hi
                     FROM {src} WHERE src <> dst)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""d{r} AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                   FROM (SELECT lo AS node FROM und{r}
                         UNION ALL SELECT hi FROM und{r})
                   GROUP BY node)"""
        )
        parts.append(
            f"""k{r} AS MATERIALIZED
                  (SELECT node FROM d{r} WHERE deg >= {k})"""
        )
        parts.append(
            f"""und{r + 1} AS MATERIALIZED (SELECT lo, hi FROM und{r}
                   WHERE lo IN (SELECT node FROM k{r})
                     AND hi IN (SELECT node FROM k{r}))"""
        )
    parts.append(
        f"""dfin AS (SELECT node, CAST(count(*) AS BIGINT) AS core_deg
               FROM (SELECT lo AS node FROM und{rounds}
                     UNION ALL SELECT hi FROM und{rounds})
               GROUP BY node)"""
    )
    return ",\n            ".join(parts)


# events columns profiled by table_profile — ONE list shared by the
# query and its oracle generator
_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _profile_sql(table: str, cols: list[str]) -> str:
    """table_profile oracle: one aggregate row, unpivoted via UNION ALL
    — mirrors the Spark Expand-aggregate + struct-array explode."""
    aggs = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for c in cols:
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS null_{c}"
        )
        aggs.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS dist_{c}")
    arms = [
        f"""SELECT '{c}' AS "column", n_rows, null_{c} AS n_null,
                   dist_{c} AS n_distinct,
                   (null_{c} * 1000) // n_rows AS null_milli FROM s"""
        for c in cols
    ]
    return (
        f"WITH s AS (SELECT {', '.join(aggs)} FROM {table})\n            "
        + "\n            UNION ALL ".join(arms)
    )


def _spoof_ctes(src: str = "documents") -> str:
    """sbuilt → sstok → sper → spf CTE chain: the confusable-planted
    corpus (%5 Cyrillic-а paypal, %9 Greek-ο login, %4 pure-cyrillic
    non-flag token) + per-token mixed-script flags + the per-doc card
    spf(doc_id, n_tokens, n_mixed, spoof_milli, top_suspect) — ONE
    definition shared by mixed_script_spoof and curation_v10."""
    classes = dict(A.SCRIPT_CLASSES)
    flags = " + ".join(
        f"""(CASE WHEN regexp_matches(tok, '[{classes[s]}]')
                  THEN 1 ELSE 0 END)"""
        for s in ("latin", "cyrillic", "greek")
    )
    return f"""sbuilt AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' p' || chr(1072) || 'ypal'
                             ELSE '' END
                     || CASE WHEN doc_id % 9 = 0
                             THEN ' l' || chr(959) || 'gin'
                             ELSE '' END
                     || CASE WHEN doc_id % 4 = 0
                             THEN ' ' || chr(1086) || chr(1082)
                             ELSE '' END AS t
              FROM {src} WHERE text IS NOT NULL),
            sstok AS (SELECT doc_id, tok
                    FROM (SELECT doc_id,
                                 unnest(string_split(t, ' ')) AS tok
                          FROM sbuilt)
                    WHERE tok <> ''),
            sper AS (SELECT doc_id, tok,
                           CASE WHEN {flags} >= 2
                           THEN 1 ELSE 0 END AS mixed
                    FROM sstok),
            spf AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(mixed) AS BIGINT) AS n_mixed,
                   CAST(sum(mixed) * 1000 // count(*) AS BIGINT)
                       AS spoof_milli,
                   min(CASE WHEN mixed = 1 THEN tok END) AS top_suspect
            FROM sper GROUP BY doc_id)"""


def _centroid_ctes(count_src: str, p: str = "c") -> str:
    """{p}tok → {p}dfr → {p}nn → {p}idf → {p}sc → {p}win CTEs over the
    `s` sentence table (from _sent_ctes): distinct-token milli-nat idf
    sentence scores + the packed lead-bias argmax — shared by
    centroid_summary and curation_v10 (idf corpus size counted FROM
    count_src, which must match the Spark call's input corpus)."""
    return f"""{p}tok AS (SELECT DISTINCT doc_id, sent_pos, tok
                     FROM (SELECT doc_id, sent_pos,
                                  unnest(string_split(sentence, ' ')) AS tok
                           FROM s)
                     WHERE tok <> ''),
            {p}dfr AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                    FROM {p}tok GROUP BY tok),
            {p}nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                   FROM {count_src}),
            {p}idf AS (SELECT tok,
                           CAST(floor(ln(CAST(n AS DOUBLE)
                                         / CAST(df AS DOUBLE)) * 1000)
                                AS BIGINT) AS idf_milli
                    FROM {p}dfr CROSS JOIN {p}nn),
            {p}sc AS (SELECT doc_id, sent_pos,
                          CAST(sum(idf_milli) AS BIGINT) AS score_milli
                   FROM {p}tok JOIN {p}idf USING (tok)
                   GROUP BY doc_id, sent_pos),
            {p}win AS (SELECT doc_id,
                           max(score_milli * 1048576
                               + (1048575 - sent_pos)) AS p
                    FROM {p}sc GROUP BY doc_id)"""


def _katz_ctes(max_len: int = 4, beta_den: int = 4) -> str:
    """Unrolled attenuated-walk levels over the affine fixture — twin
    of analysis.katz_centrality (per-level truncation BEFORE the sum).
    Each w{L} is MATERIALIZED (referenced by the next level and the
    union)."""
    parts = [
        """nkz AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)""",
        """ekz AS MATERIALIZED (SELECT src, dst FROM (
                 SELECT doc_id AS src,
                        (doc_id * 31 + 7 * j) % nkz.n AS dst
                 FROM documents, nkz,
                      (SELECT unnest([1, 2, 3]) AS j) js)
               WHERE src <> dst)""",
        """w0 AS (SELECT doc_id AS node, CAST(1 AS BIGINT) AS w
                 FROM documents WHERE doc_id % 97 = 0)""",
    ]
    for L in range(1, max_len + 1):
        parts.append(
            f"""w{L} AS MATERIALIZED (SELECT e.dst AS node,
                        CAST(sum(p.w) AS BIGINT) AS w
                 FROM ekz e JOIN w{L - 1} p ON p.node = e.src
                 GROUP BY e.dst)"""
        )
    parts.append(
        "kall AS ({})".format(
            " UNION ALL ".join(
                f"SELECT node, w * 1000 // {beta_den ** L} AS k, "
                f"w AS nw FROM w{L}"
                for L in range(1, max_len + 1)
            )
        )
    )
    return ",\n            ".join(parts)


def _urlt_ctes() -> str:
    """u → p CTE chain: the synthetic URL fixture + host/template
    derivation — ONE definition shared by the url_templates and
    host_path_entropy oracles."""
    return """u AS (
              SELECT CASE
                WHEN doc_id % 251 = 0 THEN
                  'https://h' || (doc_id % 7) || '.example/one-off-'
                    || doc_id || '-x'
                WHEN doc_id % 5 = 0 THEN
                  'https://h' || (doc_id % 7) || '.example/p/' || doc_id
                WHEN doc_id % 5 = 1 THEN
                  'https://h' || (doc_id % 7) || '.example/2024/'
                    || (doc_id % 12) || '/post-' || doc_id
                WHEN doc_id % 5 = 2 THEN
                  'https://h' || (doc_id % 7) || '.example/tag/t'
                    || (doc_id % 7)
                WHEN doc_id % 5 = 3 THEN
                  'https://u5@H' || (doc_id % 7) || '.Example:8080/search?q=x'
                    || doc_id || '&page=' || doc_id
                ELSE 'h' || (doc_id % 7) || '.example/p/' || doc_id
              END AS url
              FROM documents),
            p AS (
              SELECT url,
                CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
                     THEN lower(regexp_replace(regexp_extract(url,
                            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
                            '^[^@]*@', ''))
                END AS host,
                CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
                     THEN regexp_replace(
                       CASE WHEN regexp_extract(url,
                              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)
                              = ''
                            THEN '/'
                            ELSE regexp_extract(url,
                              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)
                       END, '[0-9]+', '{n}', 'g')
                     ELSE regexp_replace(url, '[0-9]+', '{n}', 'g')
                END AS template
              FROM u)"""


def _reach_ctes(prefix: str, edge_cte: str, seed_where: str,
                depth: int = 6) -> str:
    """Unrolled multi-source min-dist BFS over an existing edge CTE,
    ending in {p}d{depth}(node, dist) — the _bip_ctes round shape,
    generalized for hub_removal_impact's two variants."""
    p = prefix
    parts = [
        f"""{p}d0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS dist
                 FROM documents WHERE {seed_where})""",
    ]
    for r in range(1, depth + 1):
        parts.append(
            f"""{p}d{r} AS MATERIALIZED (SELECT node,
                        CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT node, dist FROM {p}d{r - 1}
                     UNION ALL
                     SELECT e.dst, d.dist + 1 FROM {edge_cte} e
                     JOIN {p}d{r - 1} d ON d.node = e.src
                      AND d.dist = {r - 1})
                   GROUP BY node)"""
        )
    return ",\n            ".join(parts)


def _pr3_ctes() -> str:
    """The 3-iteration integer PageRank CTE chain over the affine link
    graph, ending in p3(node, p) — factored from the pagerank_links
    oracle so crawl_value_rank composes the SAME definition."""
    parts = [
        """n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)""",
        """e AS (
              SELECT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 31 + 7 * j) % n.nn AS dst
                FROM documents, n, (SELECT unnest([1, 2, 3]) AS j) js)
              WHERE src <> dst)""",
        """nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)""",
        """od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY src)""",
        """p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM nodes)""",
    ]
    for i in (1, 2, 3):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p{i - 1} p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst)"""
        )
        parts.append(
            f"""p{i} AS (SELECT nodes.node,
                          CAST(150000 + (COALESCE(c{i}.m, 0) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c{i} ON c{i}.node = nodes.node)"""
        )
    return ",\n            ".join(parts)


def _recrawl_ctes() -> str:
    """seq → chg CTE chain over the _REVISIT_SNAPS_CTE fixture ending
    in chg(url, n_fetches, n_changes, change_milli) — factored from the
    recrawl_priority oracle, shared with crawl_value_rank."""
    return f"""{_REVISIT_SNAPS_CTE},
            seq AS (SELECT url, digest,
                           lag(digest) OVER (PARTITION BY url
                               ORDER BY ts ASC, doc_id ASC) AS prev
                    FROM s),
            chg AS (SELECT url, n_fetches, n_changes,
                           CAST(n_changes * 1000
                                // greatest(n_fetches - 1, 1) AS BIGINT)
                               AS change_milli
                    FROM (SELECT url,
                                 CAST(count(*) AS BIGINT) AS n_fetches,
                                 CAST(sum(CASE WHEN prev IS NOT NULL
                                                AND digest <> prev
                                          THEN 1 ELSE 0 END) AS BIGINT)
                                     AS n_changes
                          FROM seq GROUP BY url))"""


def _int8_cte() -> str:
    """q(vec_id, qvec) — the int8 max-abs quantization CTE, twin of
    analysis.quantize_embeddings; ONE definition shared by the
    quantized_knn and mutual_nn_pairs oracles."""
    return """q AS (
              SELECT vec_id,
                     CASE WHEN mx = 0
                          THEN list_transform(e, x -> CAST(0 AS INT))
                          ELSE list_transform(e, x ->
                               CAST(round(x * CAST(127.0 AS DOUBLE) / mx)
                                    AS INT)) END AS qvec
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                           list_aggregate(
                             list_transform(CAST(embedding AS DOUBLE[]),
                                            x -> abs(x)), 'max') AS mx
                    FROM embeddings))"""


def _bw_ctes(depth: int = 4) -> str:
    """Unrolled Brandes forward (σ-carrying BFS) + backward (integer
    per-term truncated δ) CTEs over the crawl_depth affine fixture —
    twin of analysis.betweenness_approx.  Every round table is
    MATERIALIZED (referenced by the union arm, the anti-filter, and
    the next level — the _kcore_ctes re-expansion lesson)."""
    parts = [
        """nbw AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)""",
        """ebw AS MATERIALIZED (SELECT src, dst FROM (
                 SELECT doc_id AS src,
                        (doc_id * 31 + 7 * j) % nbw.n AS dst
                 FROM documents, nbw,
                      (SELECT unnest([1, 2, 3]) AS j) js)
               WHERE src <> dst)""",
        """f0 AS MATERIALIZED (SELECT doc_id AS seed, doc_id AS node,
                        CAST(0 AS BIGINT) AS dist,
                        CAST(1 AS BIGINT) AS sigma
                 FROM documents WHERE doc_id % 97 = 0)""",
    ]
    for r in range(1, depth + 1):
        parts.append(
            f"""f{r} AS MATERIALIZED (
                 SELECT * FROM f{r - 1}
                 UNION ALL
                 SELECT c.seed, c.node, CAST({r} AS BIGINT) AS dist,
                        c.sigma FROM (
                     SELECT s.seed, e.dst AS node,
                            CAST(sum(s.sigma) AS BIGINT) AS sigma
                     FROM ebw e JOIN f{r - 1} s
                       ON s.node = e.src AND s.dist = {r - 1}
                     GROUP BY s.seed, e.dst) c
                 LEFT JOIN f{r - 1} p
                   ON p.seed = c.seed AND p.node = c.node
                 WHERE p.node IS NULL)"""
        )
    parts.append(
        f"""b{depth} AS MATERIALIZED (SELECT seed, node, sigma,
                        CAST(0 AS BIGINT) AS delta
                 FROM f{depth} WHERE dist = {depth})"""
    )
    for L in range(depth - 1, -1, -1):
        parts.append(
            f"""b{L} AS MATERIALIZED (
                 SELECT v.seed, v.node, v.sigma,
                        CAST(COALESCE(sum(
                            (v.sigma * (1000000 + s.delta)) // s.sigma),
                            0) AS BIGINT) AS delta
                 FROM (SELECT seed, node, sigma FROM f{depth}
                       WHERE dist = {L}) v
                 LEFT JOIN ebw e ON e.src = v.node
                 LEFT JOIN b{L + 1} s
                   ON s.seed = v.seed AND s.node = e.dst
                 GROUP BY v.seed, v.node, v.sigma)"""
        )
    parts.append(
        "ball AS ({})".format(
            " UNION ALL ".join(
                f"SELECT * FROM b{L}" for L in range(depth + 1)
            )
        )
    )
    return ",\n            ".join(parts)


def _edrift_ctes(prefix: str, emb_sql: str) -> str:
    """One embedding_drift split as prefix-namespaced CTEs ending in
    {p}fin(n_a, n_b, dot, pk, ia, ib) — mirrors analysis.embedding_drift
    (q=1000, scale=100): clamp-quantized dims, per-half per-dim sums,
    offset floor-div means, isqrt-corrected norms (the _tfidf_pair_ctes
    three-step chain)."""
    p = prefix
    return f"""{p}src AS (SELECT vec_id, {emb_sql} AS embedding,
                          vec_id % 2 AS half
                   FROM embeddings),
            {p}dims AS (SELECT half, d - 1 AS d,
                          greatest(-1000, least(1000,
                            CAST(round(CAST(embedding[d] AS DOUBLE) * 1000)
                                 AS BIGINT))) AS val
                   FROM {p}src,
                        (SELECT unnest(generate_series(1, 64)) AS d) dd),
            {p}pd AS (SELECT d,
                          CAST(sum(CASE WHEN half = 0 THEN val ELSE 0 END)
                               AS BIGINT) AS sa,
                          CAST(sum(CASE WHEN half = 1 THEN val ELSE 0 END)
                               AS BIGINT) AS sb
                   FROM {p}dims GROUP BY d),
            {p}cn AS (SELECT CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                               AS BIGINT) AS n_a,
                          CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                               AS BIGINT) AS n_b
                   FROM {p}src),
            {p}mm AS (SELECT d, n_a, n_b,
                          (sa * 100 + 100000 * n_a) // n_a - 100000 AS ma,
                          (sb * 100 + 100000 * n_b) // n_b - 100000 AS mb
                   FROM {p}pd CROSS JOIN {p}cn),
            {p}cd AS (SELECT n_a, n_b,
                          CAST(sum(ma * mb) AS BIGINT) AS dot,
                          CAST(sum(ma * ma) AS BIGINT) AS sqa,
                          CAST(sum(mb * mb) AS BIGINT) AS sqb,
                          max(abs(ma - mb) * 128 + (127 - d)) AS pk
                   FROM {p}mm GROUP BY n_a, n_b),
            {p}r0 AS (SELECT *,
                          CAST(floor(sqrt(CAST(sqa AS DOUBLE))) AS BIGINT)
                              AS ya0,
                          CAST(floor(sqrt(CAST(sqb AS DOUBLE))) AS BIGINT)
                              AS yb0
                   FROM {p}cd),
            {p}r1 AS (SELECT *,
                          ya0 + CASE WHEN (ya0 + 1) * (ya0 + 1) <= sqa
                                     THEN 1 ELSE 0 END AS ya1,
                          yb0 + CASE WHEN (yb0 + 1) * (yb0 + 1) <= sqb
                                     THEN 1 ELSE 0 END AS yb1
                   FROM {p}r0),
            {p}fin AS (SELECT n_a, n_b, dot, pk,
                          ya1 - CASE WHEN ya1 * ya1 > sqa
                                     THEN 1 ELSE 0 END AS ia,
                          yb1 - CASE WHEN yb1 * yb1 > sqb
                                     THEN 1 ELSE 0 END AS ib
                   FROM {p}r1)"""


def _bip_ctes(prefix: str, chord: bool, depth: int = 8) -> str:
    """Unrolled single-seed BFS + conflict-pair CTEs for one
    bipartite_check fixture graph (prefix-namespaced so the two graphs
    share one WITH).  Mirrors analysis.bipartite_check: symmetrized
    distinct edges, min-dist rounds (MATERIALIZED — the _kcore_ctes
    re-expansion lesson), canonical src<dst pairs with parity colors.
    Expects a shared `nbp(n)` CTE defined by the caller."""
    p = prefix
    deltas = "[1, 3, 5, 2]" if chord else "[1, 3, 5]"
    guard = " WHERE d <> 2 OR doc_id % 7 = 0" if chord else ""
    parts = [
        f"""{p}a AS (SELECT doc_id AS a, (doc_id + d) % nbp.n AS b
                 FROM documents, nbp,
                      (SELECT unnest({deltas}) AS d) ds{guard})""",
        f"""{p}e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                 SELECT a AS src, b AS dst FROM {p}a
                 UNION ALL SELECT b AS src, a AS dst FROM {p}a)
               WHERE src <> dst)""",
        f"""{p}d0 AS (SELECT CAST(0 AS BIGINT) AS node,
                             CAST(0 AS BIGINT) AS dist)""",
    ]
    for r in range(1, depth + 1):
        parts.append(
            f"""{p}d{r} AS MATERIALIZED (SELECT node,
                        CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT node, dist FROM {p}d{r - 1}
                     UNION ALL
                     SELECT e.dst, d.dist + 1 FROM {p}e e
                     JOIN {p}d{r - 1} d ON d.node = e.src
                      AND d.dist = {r - 1})
                   GROUP BY node)"""
        )
    parts.append(
        f"""{p}cp AS (SELECT CASE WHEN ds.dist % 2 = dd.dist % 2
                                  THEN 1 ELSE 0 END AS confl
                  FROM {p}e e
                  JOIN {p}d{depth} ds ON ds.node = e.src
                  JOIN {p}d{depth} dd ON dd.node = e.dst
                  WHERE e.src < e.dst)"""
    )
    return ",\n            ".join(parts)


def _hc_ctes(depth: int) -> str:
    """Unrolled per-seed BFS for the harmonic_centrality oracle over the
    crawl_depth affine fixture (edges (doc_id*31+7j)%n, seeds %97).
    h{r} carries (seed, node, dist); MATERIALIZED — each round
    references the previous table in both union arms (the _kcore_ctes
    2^rounds re-expansion lesson)."""
    parts = [
        """nhc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)""",
        """ehc AS MATERIALIZED (SELECT src, dst FROM (
                 SELECT doc_id AS src,
                        (doc_id * 31 + 7 * j) % nhc.nn AS dst
                 FROM documents, nhc,
                      (SELECT unnest([1, 2, 3]) AS j) js)
               WHERE src <> dst)""",
        """h0 AS MATERIALIZED (SELECT doc_id AS seed, doc_id AS node,
                        CAST(0 AS BIGINT) AS dist
                 FROM documents WHERE doc_id % 97 = 0)""",
    ]
    for r in range(1, depth + 1):
        parts.append(
            f"""h{r} AS MATERIALIZED (SELECT seed, node,
                        CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT seed, node, dist FROM h{r - 1}
                     UNION ALL
                     SELECT d.seed, ehc.dst, d.dist + 1 FROM ehc
                     JOIN h{r - 1} d ON d.node = ehc.src
                      AND d.dist = {r - 1})
                   GROUP BY seed, node)"""
        )
    return ",\n            ".join(parts)


def _kcenter_ctes(k: int, ndim: int = 64, quant: int = 1000) -> str:
    """Unrolled Gonzalez farthest-point rounds for the kcenter_coreset
    oracle (mirrors analysis.kcenter_coreset over embeddings): qe =
    floor-quantized (id, d, q); per round a 64-row center slice, the
    incremental min-dist table (MATERIALIZED — referenced by the next
    round's least() AND its own argmax), and the packed argmax with
    min-id tiebreak."""
    parts = [
        f"""kdd AS (SELECT unnest(generate_series(1, {ndim})) AS d)""",
        f"""kqe AS MATERIALIZED (SELECT vec_id AS id, d,
                 CAST(floor(CAST(embedding[d] AS DOUBLE) * {quant})
                      AS BIGINT) AS q
             FROM embeddings CROSS JOIN kdd)""",
        """kc0 AS (SELECT min(vec_id) AS c FROM embeddings)""",
    ]
    for r in range(1, k):
        prev_c = f"kc{r - 1}"
        parts.append(
            f"""kcq{r} AS (SELECT d, q AS cq FROM kqe, {prev_c}
                 WHERE id = {prev_c}.c)"""
        )
        nd = (
            f"""knd{r} AS (SELECT id,
                 CAST(sum((q - cq) * (q - cq)) AS BIGINT) AS nd
             FROM kqe JOIN kcq{r} USING (d) GROUP BY id)"""
        )
        parts.append(nd)
        if r == 1:
            parts.append(
                f"""kmd{r} AS MATERIALIZED (SELECT id, nd AS md
                     FROM knd{r})"""
            )
        else:
            parts.append(
                f"""kmd{r} AS MATERIALIZED (SELECT m.id,
                         least(m.md, n.nd) AS md
                     FROM kmd{r - 1} m JOIN knd{r} n ON n.id = m.id)"""
            )
        parts.append(
            f"""kmx{r} AS (SELECT max(md * 1048576 + (1048575 - id)) AS p
                 FROM kmd{r})"""
        )
        parts.append(
            f"""kc{r} AS (SELECT 1048575 - (p % 1048576) AS c,
                        p // 1048576 AS d2sel FROM kmx{r})"""
        )
    return ",\n            ".join(parts)


def _truss_ctes(k: int, rounds: int) -> str:
    """k-truss fixture + unrolled peel rounds for the ktruss_edges
    oracle (mirrors the entry's clique+strip+bridge+pendants fixture
    and analysis.ktruss): per round a triangle CTE (lo < mid < hi), a
    3-role support union, and the filtered edge set.  tu{r-1} is
    referenced 4x and ttr{r} 3x per round -> MATERIALIZED (the
    _kcore_ctes re-expansion lesson)."""
    parts = [
        """tu0 AS MATERIALIZED (SELECT DISTINCT
                 CASE WHEN m < 100 THEN m // 10
                      WHEN m < 107 THEN m - 80
                      WHEN m < 116 THEN m - 90
                      WHEN m = 120 THEN 9
                      ELSE m - 130 END AS lo,
                 CASE WHEN m < 100 THEN m % 10
                      WHEN m < 107 THEN m - 79
                      WHEN m < 116 THEN m - 88
                      WHEN m = 120 THEN 20
                      ELSE m - 100 END AS hi
             FROM (SELECT doc_id % 500 AS m FROM documents)
             WHERE (m < 100 AND m // 10 < m % 10)
                OR (m BETWEEN 100 AND 106)
                OR (m BETWEEN 110 AND 115) OR m = 120
                OR (m BETWEEN 130 AND 139))""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""ttr{r} AS MATERIALIZED (
                 SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
                 FROM tu{r - 1} e1
                 JOIN tu{r - 1} e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
                 JOIN tu{r - 1} e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)"""
        )
        parts.append(
            f"""tsp{r} AS (SELECT lo, hi,
                        CAST(count(*) AS BIGINT) AS s FROM (
                     SELECT a AS lo, b AS hi FROM ttr{r}
                     UNION ALL SELECT a, c FROM ttr{r}
                     UNION ALL SELECT b, c FROM ttr{r})
                   GROUP BY lo, hi)"""
        )
        parts.append(
            f"""tu{r} AS MATERIALIZED (
                 SELECT e.lo, e.hi FROM tu{r - 1} e
                 JOIN tsp{r} s ON s.lo = e.lo AND s.hi = e.hi
                 WHERE s.s >= {k - 2})"""
        )
    return ",\n            ".join(parts)


def _zorder_ctes(sfx: str, linear: bool, bits: int, n_files: int) -> str:
    """Z-order manifest chain for the zorder_layout / zorder_pruning
    oracles (mirrors analysis.zorder_layout over the (user_id,
    epoch-second) events projection): min-max bucketize, Morton
    interleave (or plain xb for the linear baseline), equal-width
    file ranges, per-file zone map.  All CTEs suffixed so the pruning
    oracle can inline both layouts under one WITH."""
    m = 2**bits
    morton = " | ".join(
        f"(((__xb >> {i}) & 1) << {2 * i})"
        f" | (((__yb >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    key = "__xb" if linear else f"({morton})"
    space = m if linear else m * m
    return f"""{_xy_sb_ctes(sfx, m)},
            mf{sfx} AS (SELECT ({key} * {int(n_files)}) // {space}
                          AS file_id,
                      CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(min(__x) AS BIGINT) AS min_x,
                      CAST(max(__x) AS BIGINT) AS max_x,
                      CAST(min(__y) AS BIGINT) AS min_y,
                      CAST(max(__y) AS BIGINT) AS max_y
               FROM sb{sfx} GROUP BY 1)"""


def _xy_sb_ctes(sfx: str, m: int) -> str:
    """Shared bucketize head of the layout-family oracles (the Spark
    twin is analysis._xy_scaled over the _events_xy projection)."""
    return f"""xy{sfx} AS (SELECT user_id AS __x,
                      epoch_us(ts) // 1000000 AS __y
               FROM events),
            st{sfx} AS (SELECT min(__x) AS minx, max(__x) AS maxx,
                      min(__y) AS miny, max(__y) AS maxy FROM xy{sfx}),
            sb{sfx} AS (SELECT __x, __y,
                      ((__x - minx) * {m}) // (maxx - minx + 1) AS __xb,
                      ((__y - miny) * {m}) // (maxy - miny + 1) AS __yb
               FROM xy{sfx}, st{sfx})"""


def _hilbert_ctes(sfx: str, bits: int, n_files: int) -> str:
    """Hilbert manifest chain (mirrors analysis.hilbert_layout): the
    shared bucketize head + `bits` unrolled xy2d descent levels — the
    SAME div/% CASE text per level as the Spark _hilbert_key — then
    the equal-width manifest tail as mh{sfx}."""
    m = 2**bits
    parts = [
        _xy_sb_ctes(sfx, m),
        f"""g{sfx}0 AS (SELECT __x, __y,
                      CAST(__xb AS BIGINT) AS hx,
                      CAST(__yb AS BIGINT) AS hy,
                      CAST(0 AS BIGINT) AS hd
               FROM sb{sfx})""",
    ]
    for i, lvl in enumerate(range(bits - 1, -1, -1)):
        s = 1 << lvl
        quad = (
            f"(CASE WHEN (hx // {s}) % 2 = 0"
            f" AND (hy // {s}) % 2 = 0 THEN 0"
            f" WHEN (hx // {s}) % 2 = 0 THEN 1"
            f" WHEN (hy // {s}) % 2 = 1 THEN 2 ELSE 3 END)"
        )
        parts.append(
            f"""g{sfx}{i + 1} AS (SELECT __x, __y,
                      CASE WHEN (hy // {s}) % 2 = 1 THEN hx % {s}
                           WHEN (hx // {s}) % 2 = 1
                               THEN {s} - 1 - (hy % {s})
                           ELSE hy % {s} END AS hx,
                      CASE WHEN (hy // {s}) % 2 = 1 THEN hy % {s}
                           WHEN (hx // {s}) % 2 = 1
                               THEN {s} - 1 - (hx % {s})
                           ELSE hx % {s} END AS hy,
                      hd + {s * s} * {quad} AS hd
               FROM g{sfx}{i})"""
        )
    parts.append(
        f"""mh{sfx} AS (SELECT (hd * {int(n_files)}) // {m * m}
                          AS file_id,
                      CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(min(__x) AS BIGINT) AS min_x,
                      CAST(max(__x) AS BIGINT) AS max_x,
                      CAST(min(__y) AS BIGINT) AS min_y,
                      CAST(max(__y) AS BIGINT) AS max_y
               FROM g{sfx}{bits} GROUP BY 1)"""
    )
    return ",\n            ".join(parts)


def _bowtie_ctes(depth: int) -> str:
    """Bow-tie fixture edges + forward/backward frontier BFS from pivot
    0 for the bowtie_components oracle, unrolled `depth` rounds (must
    match the entry's max_depth).  ebt mirrors `_bowtie_edges` exactly
    (node = doc_id % 500, DISTINCT); fb{r}/bb{r} carry (node, dist)
    with the frontier expansion referencing the previous round in both
    union arms -> MATERIALIZED (the _kcore_ctes re-expansion lesson)."""
    parts = [
        """ebt AS MATERIALIZED (SELECT DISTINCT
                 CASE WHEN m < 250 THEN m
                      WHEN m < 350 THEN m % 100
                      WHEN m < 400 THEN m - 100
                      WHEN m < 450 THEN m - 300
                      ELSE m END AS src,
                 CASE WHEN m < 100 THEN
                         (m + CASE j WHEN 1 THEN 1 WHEN 2 THEN 4
                                     WHEN 3 THEN 16 ELSE 64 END) % 100
                      WHEN m < 200 THEN m % 100
                      WHEN m < 250 THEN m - 100
                      WHEN m < 450 THEN m
                      ELSE 450 + (m - 449) % 50 END AS dst
             FROM (SELECT doc_id % 500 AS m, j
                   FROM documents,
                        (SELECT unnest([1, 2, 3, 4]) AS j) js
                   WHERE doc_id % 500 < 100 OR j = 1))""",
        """fb0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS node,
                        CAST(0 AS BIGINT) AS dist)""",
        """bb0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS node,
                        CAST(0 AS BIGINT) AS dist)""",
    ]
    for r in range(1, depth + 1):
        for tbl, here, there in (("fb", "src", "dst"), ("bb", "dst", "src")):
            parts.append(
                f"""{tbl}{r} AS MATERIALIZED (SELECT node,
                        CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT node, dist FROM {tbl}{r - 1}
                     UNION ALL
                     SELECT e.{there}, d.dist + 1 FROM ebt e
                     JOIN {tbl}{r - 1} d ON d.node = e.{here}
                      AND d.dist = {r - 1})
                   GROUP BY node)"""
            )
    parts.append(
        """nbt AS (SELECT DISTINCT node FROM (
               SELECT src AS node FROM ebt
               UNION ALL SELECT dst FROM ebt))"""
    )
    return ",\n            ".join(parts)


def _tfidf_w_ctes(max_df: int, sfx: str = "") -> str:
    """Shared TF-IDF weight chain (tok → tfx → dfq → nn → idfx → wx →
    nrm, all suffixed by `sfx`) over documents — ONE definition for the
    tfidf_neardup_pairs / tfidf_stop_terms / dedup_components_tfidf /
    tfidf_eval oracles (the eval inlines the chain twice, hence the
    suffix); idf quantized to milli-nats with the float expression tree
    kept identical to the Spark side."""
    return f"""
            tok{sfx} AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
            tfx{sfx} AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                    FROM tok{sfx} GROUP BY doc_id, term),
            dfq{sfx} AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tfx{sfx} GROUP BY term),
            nn{sfx} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            idfx{sfx} AS (SELECT term,
                            CAST(floor(ln(CAST(n AS DOUBLE)
                                 / CAST(df AS DOUBLE)) * 1000) AS BIGINT)
                                AS idf_milli
                     FROM dfq{sfx}, nn{sfx} WHERE df <= {max_df}),
            wx{sfx} AS MATERIALIZED (SELECT t.doc_id, t.term,
                           t.tf * i.idf_milli AS w
                    FROM tfx{sfx} t JOIN idfx{sfx} i USING (term)),
            nrm{sfx} AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS sq
                    FROM wx{sfx} GROUP BY doc_id)"""


def _tfidf_pair_ctes(
    max_df: int, threshold_milli: int, sfx: str = ""
) -> str:
    """Full TF-IDF pair chain ending in tpair{sfx}(doc_a, doc_b,
    cos_milli) — _tfidf_w_ctes plus the dot self-join and the
    isqrt-corrected cosine; ONE definition for the tfidf_neardup_pairs,
    dedup_components_tfidf, and tfidf_eval oracles (the eval inlines
    the chain twice under one WITH, hence the suffix)."""
    return f"""{_tfidf_w_ctes(max_df, sfx)},
            dots{sfx} AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            CAST(sum(a.w * b.w) AS BIGINT) AS dot
                     FROM wx{sfx} a JOIN wx{sfx} b
                       ON a.term = b.term AND a.doc_id < b.doc_id
                     GROUP BY a.doc_id, b.doc_id),
            sc{sfx} AS (SELECT doc_a, doc_b, dot,
                          na.sq AS sq_a, nb.sq AS sq_b
                   FROM dots{sfx} dots
                   JOIN nrm{sfx} na ON na.doc_id = dots.doc_a
                   JOIN nrm{sfx} nb ON nb.doc_id = dots.doc_b),
            r0{sfx} AS (SELECT doc_a, doc_b, dot,
                          CAST(floor(sqrt(CAST(sq_a AS DOUBLE)))
                               AS BIGINT) AS ya0,
                          CAST(floor(sqrt(CAST(sq_b AS DOUBLE)))
                               AS BIGINT) AS yb0,
                          sq_a, sq_b
                   FROM sc{sfx}),
            r1{sfx} AS (SELECT doc_a, doc_b, dot, sq_a, sq_b,
                          ya0 + CASE WHEN (ya0 + 1) * (ya0 + 1) <= sq_a
                                     THEN 1 ELSE 0 END AS ya1,
                          yb0 + CASE WHEN (yb0 + 1) * (yb0 + 1) <= sq_b
                                     THEN 1 ELSE 0 END AS yb1
                   FROM r0{sfx}),
            r2{sfx} AS (SELECT doc_a, doc_b, dot,
                          ya1 - CASE WHEN ya1 * ya1 > sq_a
                                     THEN 1 ELSE 0 END AS na,
                          yb1 - CASE WHEN yb1 * yb1 > sq_b
                                     THEN 1 ELSE 0 END AS nb
                   FROM r1{sfx}),
            tpair{sfx} AS (SELECT doc_a, doc_b,
                             (dot * 1000) // greatest(na * nb, 1)
                                 AS cos_milli
                      FROM r2{sfx}
                      WHERE (dot * 1000) // greatest(na * nb, 1)
                            >= {threshold_milli})"""


_WILDCARD_PATTERNS = ("s*", "*r", "qu*y", "c*umn", "zz*q")
"""wildcard_search fixture patterns: prefix-only, suffix-only, two infix
(one single-match, one no-match) — keys derived by ONE parse for both
engines (_wildcard_values_sql)."""


def _ams_f2_sql(k: int = 16) -> str:
    """ams_f2 oracle — the k signed sums generated by the same loop
    shape as the Spark aggregate (one definition of the sign rule:
    first md5 hex digit < '8' => +1, a plain string compare)."""
    sums = ",\n                   ".join(
        f"CAST(sum(CASE WHEN substr(md5('{j}:' || tok), 1, 1) < '8'"
        f" THEN c ELSE -c END) AS BIGINT) AS s{j}"
        for j in range(k)
    )
    sq = " + ".join(f"s{j} * s{j}" for j in range(k))
    return f"""
            WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
                        FROM documents),
            ty AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                   FROM tk WHERE tok <> '' GROUP BY tok),
            one AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(c * c) AS BIGINT) AS f2_exact,
                   {sums}
                    FROM ty),
            est AS (SELECT n_tokens, n_types, f2_exact,
                           ({sq}) // {k} AS est_f2
                    FROM one)
            SELECT n_tokens, n_types, f2_exact, est_f2,
                   (est_f2 * 1000) // f2_exact AS ratio_milli
            FROM est
        """


def _stylo_ctes(m: int = 10) -> str:
    """Burrows'-Delta CTE chain ending in sdelta(source, n_docs,
    delta_milli) — shared by the stylometry_delta oracle and
    curation_v9's style gate (one definition of the grid/sigma/z
    conventions)."""
    return f"""stk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok
                        FROM documents),
            stf AS (SELECT doc_id, tok FROM stk WHERE tok <> ''),
            slens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
                     FROM stf GROUP BY doc_id),
            sfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS c,
                          row_number() OVER (ORDER BY count(*) DESC,
                                             tok) AS rk
                   FROM stf GROUP BY tok),
            sfeats AS (SELECT tok FROM sfr WHERE rk <= {m}),
            scnts AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
                     FROM stf JOIN sfeats USING (tok)
                     GROUP BY doc_id, tok),
            sgrid AS (SELECT l.doc_id, f.tok,
                            (COALESCE(c.cnt, 0) * 1000000) // l.len AS f
                     FROM slens l CROSS JOIN sfeats f
                     LEFT JOIN scnts c
                       ON c.doc_id = l.doc_id AND c.tok = f.tok),
            snn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM slens),
            smu AS (SELECT tok, CAST(sum(f) AS BIGINT) // nd AS mu, nd
                   FROM sgrid, snn GROUP BY tok, nd),
            sdev AS (SELECT g.doc_id, g.tok, g.f - m.mu AS dev, m.nd
                    FROM sgrid g JOIN smu m ON m.tok = g.tok),
            sva AS (SELECT tok,
                          CAST(sum(dev * dev) AS BIGINT) // max(nd)
                              AS rad
                   FROM sdev GROUP BY tok),
            sw0 AS (SELECT tok, rad,
                          CAST(floor(sqrt(CAST(rad AS DOUBLE)))
                               AS BIGINT) AS y0
                   FROM sva),
            sw1 AS (SELECT tok, rad,
                          y0 + CASE WHEN (y0 + 1) * (y0 + 1) <= rad
                                    THEN 1 ELSE 0 END AS y1
                   FROM sw0),
            ssig AS (SELECT tok,
                           y1 - CASE WHEN y1 * y1 > rad
                                     THEN 1 ELSE 0 END AS sigma
                    FROM sw1),
            sz AS (SELECT d.doc_id, d.tok,
                         (CASE WHEN d.dev < 0 THEN -1
                               WHEN d.dev > 0 THEN 1 ELSE 0 END)
                         * ((abs(d.dev) * 1000)
                            // greatest(s.sigma, 1)) AS z
                  FROM sdev d JOIN ssig s ON s.tok = d.tok),
            sprof AS (SELECT dd.source AS grp, sz.tok,
                            (sum(sz.z) + {1 << 40} * count(*))
                                // count(*) - {1 << 40} AS p,
                            CAST(count(*) AS BIGINT) AS n_docs
                     FROM sz JOIN documents dd ON dd.doc_id = sz.doc_id
                     GROUP BY dd.source, sz.tok),
            sdelta AS (SELECT grp AS source,
                   CAST(max(n_docs) AS BIGINT) AS n_docs,
                   CAST(sum(abs(p)) AS BIGINT) // {m} AS delta_milli
            FROM sprof GROUP BY grp)"""


def _wildcard_values_sql() -> str:
    """(pattern, key) VALUES rows for the oracle — the same pre*suf ->
    suf$pre rotation the Spark side computes driver-side."""
    vals = []
    for p in _WILDCARD_PATTERNS:
        pre, suf = p.split("*")
        vals.append(f"('{p}', '{suf}${pre}')")
    return ", ".join(vals)


_RAKE_STOP_SQL = ", ".join(f"'{s}'" for s in A.RAKE_STOPWORDS)
"""RAKE delimiter literals for the oracle — interpolates
analysis.RAKE_STOPWORDS so the Spark default and the oracle share ONE
list (the _QF_BAD_SQL convention)."""

_CHORD_EDGES_CTE = """nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                        FROM documents),
            le AS (SELECT doc_id AS src,
                          CASE j WHEN 1 THEN (doc_id // 10) * 10
                                          + (doc_id % 10 + 1) % 10
                                 WHEN 2 THEN (doc_id // 10) * 10
                                          + (doc_id % 10 + 2) % 10
                                 WHEN 3 THEN (doc_id // 10) * 10
                                          + (doc_id % 10 + 3) % 10
                                 ELSE (doc_id + 10) % n END AS dst
                   FROM documents, nn,
                        (SELECT unnest([1, 2, 3, 4]) AS j) js
                   WHERE j <= 3 OR doc_id % 10 = 0)"""
"""SQL twin of `_chord_community_edges` — shared by the
label_communities and modularity_eval oracles (one definition of the
planted-community fixture on each engine)."""


def _lpa_ctes(rounds: int, src: str = "le") -> str:
    """Unrolled synchronous-LPA chain over `src`(src, dst): l0 = own
    node id; each round votes neighbor labels and takes the packed
    integer argmax max(cnt*2^32 + (2^32-1-label)) — most-frequent,
    min-label ties — expression-for-expression analysis.
    label_propagation (which guards the packing bounds per row)."""
    parts = [
        f"""undl AS (SELECT DISTINCT least(src, dst) AS lo,
                                     greatest(src, dst) AS hi
                     FROM {src} WHERE src <> dst)""",
        """nbrl AS (SELECT lo AS node, hi AS nbr FROM undl
                    UNION ALL SELECT hi, lo FROM undl)""",
        """l0 AS (SELECT DISTINCT node, node AS label FROM nbrl)""",
    ]
    for r in range(rounds):
        parts.append(
            f"""v{r + 1} AS (SELECT n.node, l.label,
                          CAST(count(*) AS BIGINT) AS cnt
                   FROM nbrl n JOIN l{r} l ON l.node = n.nbr
                   GROUP BY n.node, l.label)"""
        )
        parts.append(
            f"""l{r + 1} AS (SELECT node,
                          4294967295 - (max(cnt * 4294967296
                              + (4294967295 - label)) % 4294967296)
                              AS label
                   FROM v{r + 1} GROUP BY node)"""
        )
    return ",\n            ".join(parts)


# r5 onion-dedup page builder (shared by boilerplate_lines / scrub_
# boilerplate): header + two content lines sliced from the doc's own text
# + even-page footer; list_slice END-inclusive bounds mirror F.slice's
# (start, LENGTH) args per the host_anchor_terms convention
_SCRIPT_SNIPPETS: list[tuple[int, str]] = [
    (3, " 日本語テキスト"),   # CJK (kana+kanji)
    (5, " русский текст"),  # cyrillic
    (7, " 한국어"),                            # hangul syllables
    (11, " ελληνικά"),  # greek
    (13, " العربية 123"),    # arabic + digits
]
"""script_profile fixture plants, shared by the Spark builder and the SQL
oracle (ONE set of strings — explicit escapes so encoding tools cannot
normalize them)."""


def _prefix_pairs_ctes(num: int = 3, den: int = 5) -> str:
    """Brute-force exact-Jaccard pair CTEs over the arithmetic token
    corpus — shared by the jaccard_prefix and dedup_components_prefix
    oracles (the oracle-reuse rule: one definition of the fixture and
    the threshold arithmetic).  num/den = the Jaccard threshold."""
    return f"""toks AS (
              SELECT doc_id, 't' || ((doc_id*7 + j*13) % 997) AS tok
              FROM documents, generate_series(0, 19) AS g(j)
              UNION ALL
              SELECT doc_id + 1000000, 't' || ((doc_id*7 + j*13) % 997)
              FROM documents, generate_series(1, 20) AS g(j)
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 2000000, 't' || ((doc_id*7 + j*13) % 997)
              FROM documents, generate_series(2, 21) AS g(j)
              WHERE doc_id % 20 = 0),
            sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
                      FROM toks GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS intersection
              FROM toks a JOIN toks b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            p AS (
              SELECT doc_a, doc_b, intersection,
                     sa.sz + sb.sz - intersection AS union_sz
              FROM inter
              JOIN sizes sa ON sa.doc_id = inter.doc_a
              JOIN sizes sb ON sb.doc_id = inter.doc_b
              WHERE {den} * intersection
                    >= {num} * (sa.sz + sb.sz - intersection))"""


def _prefix_comp_ctes() -> str:
    """WITH RECURSIVE chain ending in comp(doc_id, component) — the full
    brute-force closure over the arithmetic corpus at threshold 9/10,
    shared by the dedup_components_prefix and component_histogram oracles
    (the oracle-reuse rule)."""
    return f"""WITH RECURSIVE {_prefix_pairs_ctes(9, 10)},
            sym AS (SELECT doc_a AS a, doc_b AS b FROM p
                    UNION SELECT doc_b, doc_a FROM p),
            reach(src, dst) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
            ids AS (SELECT doc_id FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000 FROM documents
                    WHERE doc_id % 10 = 0
                    UNION ALL
                    SELECT doc_id + 2000000 FROM documents
                    WHERE doc_id % 20 = 0),
            comp AS (
              SELECT ids.doc_id,
                     CAST(LEAST(ids.doc_id, COALESCE(m.mn, ids.doc_id))
                          AS BIGINT) AS component
              FROM ids
              LEFT JOIN (SELECT src, min(dst) AS mn
                         FROM reach GROUP BY src) m
                ON m.src = ids.doc_id)"""


def _script_main_sql(tcol: str = "t") -> str:
    """DuckDB expression for script_profile's main_script over column
    `tcol` — generated from the SAME SCRIPT_CLASSES table (shared by the
    script_profile and curation_v6 oracles)."""
    from contentextractor_spark.functions.analysis import SCRIPT_CLASSES

    counts = {
        name: (
            f"(length({tcol}) - length(regexp_replace({tcol}, "
            f"'[{cls}]', '', 'g')))"
        )
        for name, cls in SCRIPT_CLASSES
    }
    gr = "greatest(" + ", ".join(counts.values()) + ")"
    whens = " ".join(
        f"WHEN {counts[n]} = {gr} THEN '{n}'" for n, _ in SCRIPT_CLASSES
    )
    return f"CASE WHEN {gr} = 0 THEN 'none' {whens} END"


def _curation_v6_sql() -> str:
    """Oracle for the session-2 composed chain: NFC → script gate →
    onion pagination + first-occurrence paragraph dedup → blocklist
    gate (builder-predicted: blocked ⇔ doc_id % 7 = 3)."""
    return f"""
            WITH base AS (
              SELECT doc_id, text || ' caf' || chr(233) AS t
              FROM documents WHERE text IS NOT NULL
              UNION ALL
              SELECT doc_id + 1000000, text || ' cafe' || chr(769)
              FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0),
            normed AS (SELECT doc_id, nfc_normalize(t) AS t FROM base),
            planted AS (
              SELECT doc_id,
                     t || CASE WHEN doc_id % 17 = 0
                               THEN ' ' || repeat('日本語テキスト', 300)
                               ELSE '' END AS t
              FROM normed),
            gated AS (
              SELECT * FROM (
                SELECT doc_id, t, {_script_main_sql("t")} AS main_script
                FROM planted)
              WHERE main_script = 'latin'),
            pages AS (
              SELECT doc_id, main_script,
                     'top nav menu login' || chr(10) || t ||
                     CASE WHEN doc_id % 2 = 0
                          THEN chr(10) || '© example corp footer'
                          ELSE '' END AS text2
              FROM gated),
            lnsp AS (SELECT doc_id, i AS pos, trim(l[i]) AS line FROM (
                       SELECT doc_id, string_split(text2, chr(10)) AS l,
                              unnest(generate_series(1,
                                  len(string_split(text2, chr(10))))) AS i
                       FROM pages)),
            ne AS (SELECT doc_id, pos, line FROM lnsp WHERE line <> ''),
            w AS (SELECT line, min(doc_id * 1048576 + pos) AS wp
                  FROM ne GROUP BY line),
            kept AS (SELECT ne.doc_id, ne.pos, ne.line
                     FROM ne JOIN w ON ne.line = w.line
                     WHERE ne.doc_id * 1048576 + ne.pos = w.wp),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                    FROM ne GROUP BY doc_id),
            reb AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY pos)
                               AS text_dedup,
                           CAST(count(*) AS BIGINT) AS n_kept
                    FROM kept GROUP BY doc_id),
            ded AS (SELECT t.doc_id,
                           coalesce(text_dedup, '') AS text_dedup,
                           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
                           CAST(t.n_lines - coalesce(n_kept, 0) AS BIGINT)
                               AS n_removed
                    FROM tot t LEFT JOIN reb USING (doc_id))
            SELECT d.doc_id, p.main_script, d.n_kept, d.n_removed,
                   md5(d.text_dedup) AS fp
            FROM ded d JOIN pages p USING (doc_id)
            WHERE d.doc_id % 7 <> 3
        """


def _script_profile_sql() -> str:
    """Oracle for script_profile, generated from the SAME SCRIPT_CLASSES
    ranges and _SCRIPT_SNIPPETS plants the Spark side uses — no second
    hand-maintained copy of the class tables."""
    from contentextractor_spark.functions.analysis import SCRIPT_CLASSES

    plants = " || ".join(
        f"CASE WHEN doc_id % {m} = 0 THEN '{s}' ELSE '' END"
        for m, s in _SCRIPT_SNIPPETS
    )
    count_cols = ",\n                     ".join(
        f"CAST(length(t) - length(regexp_replace(t, '[{cls}]', '', 'g'))"
        f" AS BIGINT) AS n_{name}"
        for name, cls in SCRIPT_CLASSES
    )
    names = [name for name, _ in SCRIPT_CLASSES]
    gr = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    main_whens = "\n                    ".join(
        f"WHEN n_{n} = {gr} THEN '{n}'" for n in names
    )
    minus_scripts = " - ".join(f"n_{n}" for n in names)
    return f"""
            WITH built AS (
              SELECT doc_id, text || {plants} AS t
              FROM documents WHERE text IS NOT NULL),
            c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_total,
                     {count_cols},
                     CAST(length(t) - length(regexp_replace(t, '[0-9]',
                          '', 'g')) AS BIGINT) AS n_digit,
                     CAST(length(t) - length(regexp_replace(t,
                          '[ \\t\\n\\r]', '', 'g')) AS BIGINT) AS n_space
                  FROM built)
            SELECT doc_id, {", ".join("n_" + n for n in names)},
                   n_digit, n_space,
                   n_total - n_digit - n_space - {minus_scripts} AS n_other,
                   CASE WHEN {gr} = 0 THEN 'none'
                    {main_whens}
                   END AS main_script
            FROM c
        """


_BP_BUILT_CTE = """built AS (
  SELECT doc_id,
         'top nav menu login' || chr(10) ||
         array_to_string(list_slice(ws, 1, 3), ' ') || chr(10) ||
         array_to_string(list_slice(ws, 4, len(ws)), ' ') ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || '© example corp footer' ELSE '' END AS text2
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE text IS NOT NULL
          AND len(string_split(text, ' ')) >= 6))"""

def _shingle_cte(src: str = "documents") -> str:
    """w + sh CTEs — DuckDB twin of analysis._gram_stream(src, 3) as a
    DISTINCT (doc_id, shingle) set, parameterized on the source relation
    (containment_pairs unions planted doc-in-doc rows into it)."""
    return f"""
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 2),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
    FROM w WHERE len(ws) >= 3))
"""


_SHINGLE_CTE = _shingle_cte()

# shared shingle self-join core (DuckDB twin of analysis._pair_intersections
# at min_intersection=2, max_shingle_freq=100) — ngram_jaccard_pairs and
# containment_pairs both build on it
_PAIR_INTER_CTES = """
            freq AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) <= 100),
            rare AS (SELECT sh.doc_id, sh.shingle FROM sh
                     JOIN freq USING (shingle)),
            sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
                      FROM rare GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS intersection
              FROM rare a JOIN rare b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2)
"""

_SIG_CTE = (
    "sig AS (SELECT doc_id, "
    + ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(4)
    )
    + " FROM sh GROUP BY doc_id)"
)

# bigint value of the first 8 hex digits of md5(gram) — the same integer
# Spark's conv(substring(md5(g), 1, 8), 16, 10) produces (winnowing oracle)
_HV_GRAM_SQL = "CAST(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(gram), {d + 1}, 1)) - 1)"
    f" * {16 ** (7 - d)}"
    for d in range(8)
) + " AS BIGINT)"


def _hex_int_sql(expr: str, start: int, nd: int) -> str:
    """DuckDB bigint from hex digits [start, start+nd) of `expr` (1-based)
    — the integer Spark's conv(substring(expr, start, nd), 16, 10)
    produces.  Generalizes _HV_GRAM_SQL (r4 sketch oracles)."""
    return "CAST(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {start + d}, 1)) - 1)"
        f" * {16 ** (nd - 1 - d)}"
        for d in range(nd)
    ) + " AS BIGINT)"


def _bm25_batch_ctes() -> str:
    """Shared CTE chain for the batched-BM25 oracles (bm25_batch +
    retrieval_eval): query set = first 3 distinct words of every %25
    doc, per-(query, doc, term) double contribution floored to
    micro-units (expression tree kept IDENTICAL to analysis.bm25_batch),
    order-free integer sums, top-10 per query.  Ends with the `brk` CTE
    of ranked rows — parameterized helper, never inline it twice."""
    return """
            base AS (SELECT doc_id, string_split(text, ' ') AS ws,
                            CAST(len(string_split(text, ' ')) AS BIGINT)
                                AS dl
                     FROM documents),
            bq AS (SELECT DISTINCT doc_id AS query_id, term
                   FROM (SELECT doc_id,
                                unnest(list_slice(
                                    string_split(text, ' '), 1, 3)) AS term
                         FROM documents
                         WHERE text IS NOT NULL AND doc_id % 25 = 0)),
            bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                              CAST(sum(dl) AS BIGINT) AS total_dl
                       FROM base),
            btok AS (SELECT doc_id, dl, unnest(ws) AS term FROM base),
            btf AS (SELECT doc_id, dl, term,
                           CAST(count(*) AS BIGINT) AS tf
                    FROM btok WHERE term IN (SELECT term FROM bq)
                    GROUP BY 1, 2, 3),
            bdfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                     FROM btf GROUP BY term),
            bc AS (SELECT qq.query_id, btf.doc_id,
                          CAST(floor(
                               ln(CAST(1.0 AS DOUBLE)
                                  + (s.n_docs - bdfs.df
                                     + CAST(0.5 AS DOUBLE))
                                    / (bdfs.df + CAST(0.5 AS DOUBLE)))
                               * (btf.tf * CAST(2.2 AS DOUBLE))
                               / (btf.tf + CAST(1.2 AS DOUBLE)
                                  * (CAST(0.25 AS DOUBLE)
                                     + CAST(0.75 AS DOUBLE) * btf.dl
                                       * s.n_docs / s.total_dl))
                               * CAST(1000000 AS DOUBLE)) AS BIGINT) AS cm
                   FROM btf JOIN bdfs USING (term)
                   JOIN bq qq USING (term), bstats s),
            bsc AS (SELECT query_id, doc_id,
                           CAST(sum(cm) AS BIGINT) AS score_micro
                    FROM bc GROUP BY 1, 2),
            brk AS (SELECT query_id, doc_id, score_micro,
                           CAST(row_number() OVER (
                                PARTITION BY query_id
                                ORDER BY score_micro DESC, doc_id)
                                AS BIGINT) AS rank
                    FROM bsc)
    """


# MinHash 2-band membership over _SIG_CTE — the DuckDB twin of
# analysis._band_membership (k=4, band size 2).  Shared by the components
# family AND minhash_jaccard_est so bucket semantics cannot drift.
_BANDS_CTE = """bands AS (
              SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig)"""


def _minhash_comp_ctes() -> str:
    """Shared WITH-RECURSIVE body for the MinHash dedup family: shingles →
    4-hash signature → 2 bands → star edges → symmetric closure →
    transitive closure → comp(doc_id, component).  Parameterized helper
    per the oracle-reuse rule (never copy a composed CTE)."""
    return f"""{_SHINGLE_CTE}, {_SIG_CTE},
            {_BANDS_CTE},
            hubs AS (
              SELECT band, bucket, min(doc_id) AS hub
              FROM bands GROUP BY band, bucket HAVING count(*) > 1),
            e AS (
              SELECT DISTINCT m.doc_id AS a, h.hub AS b
              FROM bands m JOIN hubs h USING (band, bucket)
              WHERE m.doc_id <> h.hub),
            sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
            reach(src, dst) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
            comp AS (
              SELECT d.doc_id,
                     CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS BIGINT)
                         AS component
              FROM documents d
              LEFT JOIN (SELECT src, min(dst) AS mn
                         FROM reach GROUP BY src) m
                ON m.src = d.doc_id)"""


def _gram_occ_cte(src: str = "documents", n: int = 3) -> str:
    """Word n-gram OCCURRENCE stream (multiset — no DISTINCT, unlike
    _SHINGLE_CTE): the DuckDB twin of analysis._gram_stream(src, n).
    n=1 is the bare token stream (no length filter, same as Spark's
    explode(split))."""
    if n == 1:
        return f"""
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
gs AS (SELECT doc_id, unnest(ws) AS g FROM w)
"""
    gram = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(n))
    return f"""
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
gs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - {n - 1}),
              i -> {gram})) AS g
       FROM w WHERE len(ws) >= {n})
"""


def _ols_tail_sql(n_alias: str) -> str:
    """SQL twin of analysis._ols_micro_exprs — the signed-OLS tail over
    a one-row CTE s(n, sx, sy, sxy, sxx): sign-peeled slope_micro +
    offset-mean intercept_micro, every // operand positive.  Shared by
    the zipf_fit and heaps_fit oracles; keep in sync with the Spark
    exprs."""
    B = 2**40
    sabs = (
        "(abs(n * sxy - sx * sy) * 1000)"
        " // greatest((n * sxx - sx * sx) // 1000, 1)"
    )
    return f"""SELECT n AS {n_alias},
                   CASE WHEN n * sxy - sx * sy < 0 THEN -({sabs})
                        ELSE ({sabs}) END AS slope_micro,
                   (sy * 100
                    + CASE WHEN n * sxy - sx * sy < 0 THEN
                        (({sabs}) * sx * 100) // 1000000
                      ELSE -((({sabs}) * sx * 100) // 1000000)
                      END
                    + {B} * n) // n - {B} AS intercept_micro
            FROM s"""


def _pq_fold_int(a: str, b: str, n: int) -> str:
    """DuckDB integer squared-L2 fold between two BIGINT lists — the twin
    of analysis._pq_int_sqdist (order-free integer sums)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(generate_series(1, {n}), i ->"
        f" ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))),"
        " (x, y) -> x + y)"
    )


def _pq_train_ctes(m: int = 16, k: int = 64, iters: int = 2,
                   sublen: int = 4, q: int = 4096,
                   src: str = "embeddings") -> str:
    """Shared PQ oracle prefix: quantized subvectors (sq), rank-spread
    init (cen0), `iters` unrolled integer-Lloyd levels (the pagerank
    unrolled-CTE convention — DuckDB recursive CTEs cannot aggregate),
    and the final assignment (codes).  Twin of analysis.pq_train_codebook
    + pq_codes: same clamp, same floor-div offset mean, same (d2, cid)
    argmin tie-break."""
    parts = [f"""
subs AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
sq AS (SELECT vec_id, s, list_transform(generate_series(1, {sublen}), i ->
         greatest(-{q}, least({q},
           CAST(round(CAST(embedding[s * {sublen} + i] AS DOUBLE) * {q})
                AS BIGINT)))) AS subq
       FROM {src} CROSS JOIN subs),
nn AS (SELECT count(*) AS n FROM {src}),
rk AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
       FROM {src}),
cs AS (SELECT unnest(generate_series(0, {k - 1})) AS c),
cen0 AS (SELECT s, c AS cid, subq AS cen
         FROM sq JOIN rk USING (vec_id) CROSS JOIN cs CROSS JOIN nn
         WHERE rn = 1 + (c * n) // {k})"""]
    fold = _pq_fold_int("subq", "cen", sublen)
    for t in range(1, iters + 1):
        parts.append(f""",
a{t} AS (SELECT vec_id, s, cid, subq FROM (
           SELECT sq.vec_id, sq.s, p.cid, sq.subq,
                  row_number() OVER (PARTITION BY sq.vec_id, sq.s
                      ORDER BY {fold} ASC, p.cid ASC) AS rn
           FROM sq JOIN cen{t - 1} p USING (s))
         WHERE rn = 1),
u{t} AS (SELECT s, cid, dd.d AS d, sum(subq[dd.d]) AS sm,
                count(*) AS cnt
         FROM a{t} CROSS JOIN
              (SELECT unnest(generate_series(1, {sublen})) AS d) dd
         GROUP BY s, cid, dd.d),
nc{t} AS (SELECT s, cid,
                 array_agg((sm + {q} * cnt) // cnt - {q} ORDER BY d)
                     AS new_cen
          FROM u{t} GROUP BY s, cid),
cen{t} AS (SELECT p.s, p.cid, coalesce(nc.new_cen, p.cen) AS cen
           FROM cen{t - 1} p LEFT JOIN nc{t} nc
             ON nc.s = p.s AND nc.cid = p.cid)""")
    parts.append(f""",
codes AS (SELECT vec_id, s, cid AS code FROM (
            SELECT sq.vec_id, sq.s, p.cid,
                   row_number() OVER (PARTITION BY sq.vec_id, sq.s
                       ORDER BY {fold} ASC, p.cid ASC) AS rn
            FROM sq JOIN cen{iters} p USING (s))
          WHERE rn = 1)""")
    return "".join(parts)


def _bpe_fold_sql(prev: str) -> str:
    """DuckDB twin of analysis._bpe_merge_fold over w{prev}'s symbol
    string — greedy-leftmost single-merge application, lft/rgt captured
    from the LEFT JOIN ON TRUE of that step's 1-row merge table."""
    return (
        "list_reduce(list_prepend('', string_split(s, chr(31))),"
        " (acc, v) -> CASE"
        " WHEN rgt IS NOT NULL AND v = rgt"
        "  AND (acc = lft OR ends_with(acc, chr(31) || lft))"
        " THEN CASE WHEN acc = lft THEN lft || rgt"
        "      ELSE left(acc, length(acc) - length(lft) - 1)"
        "           || chr(31) || lft || rgt END"
        " ELSE CASE WHEN acc = '' THEN v"
        "      ELSE acc || chr(31) || v END END)"
    )


def _bpe_ctes(n_merges: int = 6) -> str:
    """Unrolled BPE training levels (the pagerank CTE convention): w0 =
    char-split vocab with counts; per step t, pair stats p{t} → 1-row
    argmax m{t} (pc DESC, a, b) → merged vocab w{t}.  Twin of
    analysis._bpe_train."""
    parts = ["""
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS g
        FROM documents),
w0 AS (SELECT g, CAST(count(*) AS BIGINT) AS wc,
              array_to_string(list_transform(
                  generate_series(1, length(g)), i -> g[i]), chr(31)) AS s
       FROM tok GROUP BY g)"""]
    for t in range(1, n_merges + 1):
        parts.append(f""",
pp{t} AS (SELECT wc, sy, unnest(generate_series(1, len(sy) - 1)) AS i
          FROM (SELECT wc, string_split(s, chr(31)) AS sy FROM w{t - 1})
          WHERE len(sy) >= 2),
p{t} AS (SELECT sy[i] AS a, sy[i + 1] AS b,
                CAST(sum(wc) AS BIGINT) AS pc
         FROM pp{t} GROUP BY a, b),
m{t} AS (SELECT {t} AS step, a AS lft, b AS rgt, pc
         FROM p{t} ORDER BY pc DESC, a ASC, b ASC LIMIT 1),
w{t} AS (SELECT g, wc, {_bpe_fold_sql(f"w{t - 1}")} AS s
         FROM w{t - 1} LEFT JOIN m{t} ON TRUE)""")
    return "".join(parts)


def _ivf_coarse_ctes(n_lists: int = 8, nq: int = 10, nprobe: int = 3) -> str:
    """Coarse-quantizer CTEs (ccen/cdist/cassigned/cprobes/cand) for the
    IVFPQ oracle — the same fixed md5 centers and (d2, list) argmin as
    the ivf_fixed_topk oracle's inline CTEs, renamed to avoid colliding
    with the PQ codebook CTEs."""
    byte0 = _hex_int_sql("md5(c || ':' || CAST(d - 1 AS VARCHAR))", 1, 2)
    return f"""
ccen AS (
  SELECT c, list_transform(generate_series(1,
      (SELECT len(embedding) FROM embeddings LIMIT 1)),
    d -> (CAST({byte0} AS DOUBLE) - 128) / 128) AS center
  FROM (SELECT unnest(generate_series(0, {n_lists - 1})) AS c)),
cdist AS (
  SELECT vec_id, c,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, len(embedding)), i ->
             (CAST(embedding[i] AS DOUBLE) - center[i])
           * (CAST(embedding[i] AS DOUBLE) - center[i]))),
           (x, y) -> x + y) AS d2
  FROM embeddings CROSS JOIN ccen),
cassigned AS (
  SELECT vec_id, c AS list_id FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id
               ORDER BY d2 ASC, c ASC) AS rn
    FROM cdist)
  WHERE rn = 1),
cprobes AS (
  SELECT vec_id AS query_id, c AS list_id FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id
               ORDER BY d2 ASC, c ASC) AS rn
    FROM cdist WHERE vec_id < {nq})
  WHERE rn <= {nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM cprobes p JOIN cassigned a USING (list_id))
"""


# (register, rho) per gram — the DuckDB twin of analysis._hll_reg_rho(p=8):
# register = first 2 hex digits of md5(g); rho = 33 - bitlength of the next
# 8 hex digits as a 32-bit word (format('{:b}') renders "0" for 0, same as
# Spark's conv, so the w = 0 convention matches).  Shared by both HLL
# oracles (parameterize, never copy — r3 helper convention).
def _hll_h_cte(src: str = "gs", extra: str = "") -> str:
    """(register, rho) CTE over a gram relation — the DuckDB twin of
    analysis._hll_reg_rho (p=8).  extra: a group column carried through
    (the per-group sketch)."""
    sel = f"{extra}, " if extra else ""
    return (
        f"h AS (SELECT {sel}{_hex_int_sql('md5(g)', 1, 2)} AS register,\n"
        f"              CAST(33 - length(format('{{:b}}',\n"
        f"                   {_hex_int_sql('md5(g)', 3, 8)})) AS BIGINT) AS rho\n"
        f"       FROM {src})"
    )


_HLL_H_CTE = _hll_h_cte()


def _hll_est_tail_sql(keys: str = "") -> str:
    """s→e→final-select chain over f(n_filled, s_filled[, keys]) — the
    DuckDB twin of analysis._hll_estimate_projection at m=256.  `keys` is
    a 'col, ' prefix carried through every stage ('' = the global
    one-row form); shared by hll_estimate and hll_by_lang so the integer
    formula cannot drift."""
    alpha = A._hll_alpha_micro(256)
    return f"""
            s AS (SELECT {keys}CAST(256 AS BIGINT) AS m,
                         CAST(256 - n_filled AS BIGINT) AS n_empty,
                         CAST(s_filled + (256 - n_filled) * 4294967296
                              AS BIGINT) AS s_scaled
                  FROM f),
            e AS (SELECT {keys}m, n_empty, s_scaled,
                         CAST(({alpha}
                               * ((256 * 256 * 4294967296) // s_scaled))
                              // 1000000 AS BIGINT) AS est_hll,
                         CAST(CASE WHEN n_empty > 0 THEN
                              (256 * CAST(floor(1000000 *
                                   ln(256 / CAST(n_empty AS DOUBLE)))
                                   AS BIGINT)) // 1000000
                              END AS BIGINT) AS est_linear
                  FROM s)
            SELECT {keys}m, n_empty, s_scaled, est_hll, est_linear,
                   CAST(CASE WHEN n_empty > 0 AND est_hll <= 640
                        THEN est_linear ELSE est_hll END AS BIGINT) AS est
            FROM e"""

# 48-bit simhash fingerprint + 4-band × 12-bit slices, shared by the
# simhash / simhash_neardup_pairs / simhash_overflow / curation_v3 oracles —
# identical md5-derived bit planes and majority vote as the Spark side
# (analysis.simhash).  Parameterized by source relation: post-hoc string
# surgery on the CTE literal would silently no-op if the text drifted
# (r3 session-2 review).
def _simhash_cte(src: str = "documents") -> str:
    return _SIMHASH_CTE_TEMPLATE.replace("{SRC}", src)


def _surprisal_cte(src: str = "documents") -> str:
    """dt→uni→tot→sj→surp chain for unigram_surprisal, parameterized by
    source relation — shared by the standalone oracle and curation_v3 so
    the micro-nat quantization and integer-division mean cannot drift."""
    return f"""
            dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
                   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                         FROM {src})
                   GROUP BY 1, 2),
            uni AS (SELECT tok, CAST(sum(n) AS BIGINT) AS cnt
                    FROM dt GROUP BY tok),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_toks FROM uni),
            sj AS (SELECT dt.doc_id, dt.n,
                          CAST(floor(-ln(CAST(cnt AS DOUBLE) / total_toks)
                                     * 1000000.0) AS BIGINT) AS micro
                   FROM dt JOIN uni USING (tok), tot),
            surp AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                            CAST(sum(n * micro) AS BIGINT)
                                AS surprisal_micronats,
                            CAST(sum(n * micro) AS BIGINT)
                                // CAST(sum(n) AS BIGINT) AS mean_micronats
                     FROM sj GROUP BY doc_id)"""


_DSIR_CTE = """
rt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       FROM documents),
dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n
       FROM rt GROUP BY doc_id, tok),
runi AS (SELECT tok, CAST(sum(n) AS BIGINT) AS cr FROM dt GROUP BY tok),
tuni AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM (
           SELECT unnest(string_split(text, ' ')) AS tok
           FROM documents WHERE lang = 'en') GROUP BY tok),
vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM (
         SELECT tok FROM runi UNION SELECT tok FROM tuni)),
tot AS (SELECT (SELECT sum(cr) FROM runi) AS tr,
               (SELECT sum(ct) FROM tuni) AS tt,
               (SELECT v FROM vv) AS v),
-- the ratio is ONE ln of an exactly-rounded double: integer products
-- below 2^53, parenthesized identically to the Spark side
dsc AS (SELECT dt.doc_id, dt.n,
               CAST(floor(ln(
                   (CAST(coalesce(ct, 0) + 1 AS DOUBLE)
                    * CAST(tr + v AS DOUBLE))
                   / (CAST(cr + 1 AS DOUBLE) * CAST(tt + v AS DOUBLE))
               ) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS micro
        FROM dt JOIN runi USING (tok) LEFT JOIN tuni USING (tok)
        CROSS JOIN tot),
wts AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(sum(n * micro) AS BIGINT) AS logratio_micronats,
               CAST((sum(n * micro) + 68719476736 * sum(n)) // sum(n)
                    - 68719476736 AS BIGINT) AS mean_micronats
        FROM dsc GROUP BY doc_id)
"""
# shared by the dsir_weights and dsir_topk oracles — ONE definition of the
# smoothing/offset arithmetic (the r3 shared-CTE rule)


def _cdc_cte(mask: int = 16) -> str:
    """tokh→chq→cloc→chks chain for the content-defined chunking oracles
    — one definition of the boundary mask, chunk-id cumsum, and weighted
    fingerprint (twin of analysis.cdc_chunks)."""
    hv = _hex_int_sql("md5(w[i])", 1, 8)
    return f"""
            tokh AS (SELECT doc_id, i - 1 AS pos, {hv} AS hv FROM (
                       SELECT doc_id, string_split(text, ' ') AS w,
                              unnest(generate_series(1,
                                  len(string_split(text, ' ')))) AS i
                       FROM documents)),
            chq AS (SELECT doc_id, pos, hv,
                           coalesce(sum(CASE WHEN hv % {mask} = 0
                                             THEN 1 ELSE 0 END)
                               OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS chunk_id
                    FROM tokh),
            cloc AS (SELECT *, min(pos) OVER (PARTITION BY doc_id, chunk_id)
                                AS cstart
                     FROM chq),
            chks AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                            CAST(min(pos) AS INT) AS start_pos,
                            CAST(max(pos) AS INT) AS end_pos,
                            CAST(count(*) AS BIGINT) AS n_tokens,
                            CAST(sum(hv * (pos - cstart + 1)) AS BIGINT)
                                AS fp
                     FROM cloc GROUP BY doc_id, chunk_id)"""


def _sent_ctes(src: str = "documents") -> str:
    """built → m → s CTE chain: the sentence-corpus builder (the
    _C4_LINES 6-word-line pages + the planted 'Dr. Smith' abbreviation)
    plus the documented naive sentence rule — ONE definition shared by
    the sentence_split and centroid_summary oracles (the shared-CTE
    rule).  `s` ends as (doc_id, sent_pos, sentence), empties dropped."""
    return f"""
            built AS (
              SELECT doc_id,
                     array_to_string(list_transform(
                         generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 6.0) AS INT) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '), i * 6 + 1, i * 6 + 6), ' ')
                              || CASE WHEN (doc_id + i) % 2 = 0 THEN '.' ELSE '' END),
                       chr(10))
                     || CASE WHEN doc_id % 7 = 0
                             THEN chr(10) || 'Dr. Smith arrived! Then left? Yes.'
                             ELSE '' END AS t
              FROM {src} WHERE text IS NOT NULL),
            m AS (SELECT doc_id,
                         regexp_replace(t, '([.!?])[ \t\n\r]+',
                                        '\\1' || chr(1), 'g') AS t
                  FROM built),
            s AS (SELECT doc_id, i - 1 AS sent_pos, trim(l[i]) AS sentence
                  FROM (SELECT doc_id, string_split(t, chr(1)) AS l,
                               unnest(generate_series(1,
                                   len(string_split(t, chr(1))))) AS i
                        FROM m)
                  WHERE trim(l[i]) <> '')"""


def _split_cte(src: str = "documents") -> str:
    """md5-bucket split assignment CTE — shared by train_split_assign's
    oracle and curation_v3 (one definition of the 204/230 thresholds)."""
    return f"""
            spl AS (SELECT doc_id, CAST(bucket AS INT) AS split_bucket,
                           CASE WHEN bucket < 204 THEN 'train'
                                WHEN bucket < 230 THEN 'val'
                                ELSE 'test' END AS split
                    FROM (SELECT doc_id,
                                 (strpos('0123456789abcdef',
                                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                                  - 1) * 16
                               + (strpos('0123456789abcdef',
                                    substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))
                                  - 1) AS bucket
                          FROM {src}))"""


def _pack_cte(
    src: str = "documents", capacity: int = 256, n_groups: int = 32
) -> str:
    """sized + packc + packed CTEs — the DuckDB twin of
    analysis.pack_sequences (ONE definition shared by the
    pack_sequences and packing_eval oracles, per the shared-CTE rule)."""
    hexpr = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),"
        f" {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
            sized AS (
              SELECT doc_id,
                     CAST(({hexpr}) % {n_groups} AS INT) AS pack_group,
                     CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
              FROM {src}),
            packc AS (
              SELECT doc_id, pack_group, n_tokens,
                     COALESCE(sum(n_tokens) OVER (
                       PARTITION BY pack_group ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS cb
              FROM sized),
            packed AS (
              SELECT doc_id, pack_group, n_tokens,
                     CAST(floor(cb / {capacity}.0) AS BIGINT) AS bin_id
              FROM packc)"""


# The two retrieval-run oracle texts live at module level so rrf_fusion's
# oracle can wrap them as CTE subqueries — ONE definition per ranker (the
# shared-CTE rule); the standalone bm25_search / qlm_search oracle entries
# reference the same constants.
_BM25_SEARCH_SQL = """
            WITH base AS (
              SELECT doc_id, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) AS dl
              FROM documents),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                             CAST(sum(dl) AS BIGINT) AS total_dl FROM base),
            tf AS (
              SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, dl, unnest(ws) AS term FROM base)
              WHERE term IN ('query', 'scan', 'window')
              GROUP BY 1, 2, 3),
            dfs AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM (SELECT DISTINCT doc_id, unnest(ws) AS term FROM base)
              WHERE term IN ('query', 'scan', 'window')
              GROUP BY term),
            contribs AS (
              SELECT tf.doc_id,
                     tf.term,
                     ln(CAST(1.0 AS DOUBLE)
                        + (s.n_docs - dfs.df + CAST(0.5 AS DOUBLE))
                          / (dfs.df + CAST(0.5 AS DOUBLE)))
                     * (tf.tf * CAST(2.2 AS DOUBLE))
                     / (tf.tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * tf.dl * s.n_docs
                             / s.total_dl)) AS c
              FROM tf JOIN dfs USING (term), stats s),
            scored AS (
              SELECT doc_id,
                     round(COALESCE(sum(CASE WHEN term = 'query' THEN c END), 0)
                         + COALESCE(sum(CASE WHEN term = 'scan' THEN c END), 0)
                         + COALESCE(sum(CASE WHEN term = 'window' THEN c END), 0),
                         4) AS score
              FROM contribs GROUP BY doc_id),
            ranked AS (
              SELECT doc_id, score,
                     CAST(row_number() OVER (
                          ORDER BY score DESC, doc_id ASC) AS INT) AS rank
              FROM scored)
            SELECT doc_id, score, rank FROM ranked WHERE rank <= 15
        """

_QLM_SEARCH_SQL = """
            WITH base AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              FROM documents),
            tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
            stats AS (SELECT CAST(sum(dl) AS BIGINT) AS n_tok FROM base),
            cf AS (SELECT
                     CAST(count(*) FILTER (term = 'query') AS BIGINT) AS cf0,
                     CAST(count(*) FILTER (term = 'scan') AS BIGINT) AS cf1,
                     CAST(count(*) FILTER (term = 'window') AS BIGINT) AS cf2
                   FROM tk WHERE term IN ('query', 'scan', 'window')),
            tfd AS (SELECT doc_id,
                     CAST(count(*) FILTER (term = 'query') AS BIGINT) AS tf0,
                     CAST(count(*) FILTER (term = 'scan') AS BIGINT) AS tf1,
                     CAST(count(*) FILTER (term = 'window') AS BIGINT) AS tf2
                    FROM tk WHERE term IN ('query', 'scan', 'window')
                    GROUP BY doc_id),
            j AS (SELECT t.doc_id, b.dl, s.n_tok,
                         c.cf0, c.cf1, c.cf2, t.tf0, t.tf1, t.tf2
                  FROM tfd t JOIN base b USING (doc_id),
                       stats s, cf c),
            sc AS (SELECT doc_id,
                     (CASE WHEN cf0 > 0 THEN
                        CAST(floor(ln(tf0 * n_tok + 2000 * cf0) * 1000000)
                             AS BIGINT)
                        - CAST(floor(ln(dl + 2000) * 1000000) AS BIGINT)
                        - CAST(floor(ln(n_tok) * 1000000) AS BIGINT)
                      ELSE 0 END)
                   + (CASE WHEN cf1 > 0 THEN
                        CAST(floor(ln(tf1 * n_tok + 2000 * cf1) * 1000000)
                             AS BIGINT)
                        - CAST(floor(ln(dl + 2000) * 1000000) AS BIGINT)
                        - CAST(floor(ln(n_tok) * 1000000) AS BIGINT)
                      ELSE 0 END)
                   + (CASE WHEN cf2 > 0 THEN
                        CAST(floor(ln(tf2 * n_tok + 2000 * cf2) * 1000000)
                             AS BIGINT)
                        - CAST(floor(ln(dl + 2000) * 1000000) AS BIGINT)
                        - CAST(floor(ln(n_tok) * 1000000) AS BIGINT)
                      ELSE 0 END) AS score_micro
                   FROM j),
            rk AS (SELECT doc_id, score_micro,
                          CAST(row_number() OVER (
                               ORDER BY score_micro DESC, doc_id ASC)
                               AS BIGINT) AS rank
                   FROM sc)
            SELECT doc_id, score_micro, rank FROM rk WHERE rank <= 15
        """


def _substr_runs_cte(src: str = "documents", k: int = 4) -> str:
    """Shared-k-gram duplicated-run CTE chain (w → g → f → sh → r → runs)
    — ONE definition for the substring_dedup and substring_scrub oracles
    (the fifth dedup family; parameterized per the r3 shared-CTE rule).
    Positions are 0-based token offsets to match Spark's posexplode."""
    return f"""
            w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
            g AS (SELECT doc_id, s - 1 AS pos,
                         md5(array_to_string(
                             list_slice(ws, s, s + {k - 1}), ' ')) AS gh
                  FROM (SELECT doc_id, ws,
                               unnest(generate_series(1, len(ws) - {k - 1}))
                                   AS s
                        FROM w)),
            f AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
            sh AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gh)),
            r AS (SELECT doc_id, pos,
                         pos - row_number() OVER (PARTITION BY doc_id
                                                  ORDER BY pos) AS grp
                  FROM sh),
            runs AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start,
                            CAST(count(*) AS BIGINT) AS n_grams,
                            CAST(count(*) + {k - 1} AS BIGINT) AS span_tokens
                     FROM r GROUP BY doc_id, grp HAVING count(*) >= 2)"""


_REVISIT_SNAPS_CTE = """s AS (SELECT doc_id,
                     'u' || CAST(doc_id // 5 AS VARCHAR) AS url,
                     ((doc_id // 2) * 37) % 1000 AS ts,
                     CAST((doc_id % 4) // 2 AS VARCHAR) AS digest
              FROM documents)"""
"""Recrawl-fetch fixture CTE — ONE definition shared by the
warc_revisit and curation_v7 oracles (mirrors _revisit_snaps)."""

_HTTP_HDR_CASE = """CASE WHEN doc_id % 17 = 0 THEN 'not-a-date' ELSE
                  printf('Mon, %02d %s 2024 %02d:%02d:%02d GMT',
                         doc_id % 28 + 1,
                         ['Jan','Feb','Mar','Apr','May','Jun','Jul',
                          'Aug','Sep','Oct','Nov','Dec']
                             [(doc_id // 28) % 12 + 1],
                         doc_id % 24, (doc_id * 7) % 60,
                         (doc_id * 13) % 60)
                END"""
"""Last-Modified builder expression — shared by the http_dates and
curation_v7 oracles (mirrors _http_hdr_expr)."""

_HTTP_EPOCH_SQL = """CAST(epoch(try_strptime(
                             regexp_replace(regexp_replace({col},
                                 '^[A-Za-z]+, ', ''), ' GMT$', ''),
                             '%d %b %Y %H:%M:%S')) AS BIGINT)"""
"""Weekday-stripped RFC 1123 parse to epoch — shared by the http_dates
and curation_v7 oracles (mirrors parse_http_dates)."""


_ED_CORPUS_CTES = """src AS (
              SELECT doc_id,
                     'qq' || translate(lpad(CAST((doc_id*37) % 100000
                                            AS VARCHAR), 5, '0'),
                                       '0123456789', 'abcdefghij') AS t
              FROM documents),
            allr AS (
              SELECT doc_id, t FROM src
              UNION ALL
              SELECT doc_id + 1000000,
                     substr(t, 1, 3) || 'z' || substr(t, 5)
              FROM src WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 2000000, substr(t, 1, 4) || substr(t, 6)
              FROM src WHERE doc_id % 20 = 0)"""
"""The editdist fixture corpus (base + substitution/deletion twins) —
ONE definition shared by the editdist_pairs and
dedup_components_editdist oracles (mirrors _editdist_corpus)."""


def _kmv_ctes(k: int = 32) -> str:
    """tok→hh→sk chain for the bottom-k sketch oracles — hash distinct
    BEFORE ranking (a 40-bit collision cannot double-count), shared by
    kmv_sketches / kmv_estimate / kmv_lang_jaccard."""
    return f"""
            tok AS (SELECT lang AS grp,
                           unnest(string_split(text, ' ')) AS tok
                    FROM documents),
            hh AS (SELECT DISTINCT grp,
                          {_hex_int_sql("md5(tok)", 1, 10)} AS hv
                   FROM tok),
            sk AS (SELECT grp, pos, hv FROM (
                     SELECT grp, hv,
                            CAST(row_number() OVER (PARTITION BY grp
                                 ORDER BY hv) AS INT) AS pos
                     FROM hh)
                   WHERE pos <= {k})"""


def _qf_cols_sql(src: str) -> str:
    """The quality_filter signal projection (n_words/sum_len/n_digits/
    n_distinct/n_chars) over a source relation."""
    return f"""
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS INT) AS n_words,
                     length(text)
                       - (len(string_split(text, ' ')) - 1) AS sum_len,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))
                         AS n_digits,
                     len(list_distinct(string_split(text, ' ')))
                         AS n_distinct,
                     length(text) AS n_chars
              FROM {src}"""


# the rule disjunction, interpolating the SAME constants the Spark
# defaults use (analysis.QF_*)
_QF_BAD_SQL = (
    f"(n_words < {A.QF_MIN_WORDS} OR n_words > {A.QF_MAX_WORDS}"
    f" OR sum_len * 10 < {A.QF_MIN_MEAN_LEN_X10} * n_words"
    f" OR sum_len * 10 > {A.QF_MAX_MEAN_LEN_X10} * n_words"
    f" OR n_digits * 100 > {A.QF_MAX_DIGIT_PCT} * n_chars"
    f" OR n_distinct * 100 < {A.QF_MIN_DISTINCT_PCT} * n_words)"
)


def _hls_ctes(src: str = "documents", n_buckets: int = 4096) -> str:
    """SQL twin of `analysis.hashed_linear_score` as a CTE chain ending
    in `hls(doc_id, n_feats, score_micro, keep)` — shared by the
    hashed_linear_score row itself plus the classifier_agreement /
    score_pr_curve eval rows (parameterize, never copy)."""
    return f"""norm AS (
              SELECT doc_id,
                     trim(lower(regexp_replace(text, '[^A-Za-z0-9]+',
                                               ' ', 'g'))) AS t
              FROM {src} WHERE text IS NOT NULL),
            nz AS (SELECT doc_id, string_split(t, ' ') AS ws
                   FROM norm WHERE t <> ''),
            feats AS (
              SELECT doc_id, unnest(ws) AS g FROM nz
              UNION ALL
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i+1])) AS g
              FROM nz WHERE len(ws) >= 2),
            fb AS (SELECT doc_id,
                          {_hex_int_sql("md5(g)", 1, 8)} % {n_buckets}
                              AS bucket
                   FROM feats),
            wt AS (SELECT CAST(i AS BIGINT) AS bucket,
                          ({_hex_int_sql("md5('w:' || i)", 1, 8)} % 2001)
                              - 1000 AS w
                   FROM generate_series(0, {n_buckets - 1}) AS s(i)),
            hagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                            sum(w) AS s
                     FROM fb JOIN wt USING (bucket) GROUP BY doc_id),
            hls AS (
              SELECT doc_id, n_feats,
                     CAST((s + 1000 * n_feats) // n_feats - 1000
                          AS BIGINT) AS score_micro,
                     CAST(CASE WHEN (s + 1000 * n_feats) // n_feats
                                    - 1000 >= 0
                          THEN 1 ELSE 0 END AS INT) AS keep
              FROM hagg)"""


_SIMHASH_CTE_TEMPLATE = """
stok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM {SRC}),
stb AS (
  SELECT doc_id, md5(tok) AS h,
         unnest(generate_series(0, 47)) AS p
  FROM stok),
sbits AS (
  SELECT doc_id, p,
    CAST(floor((strpos('0123456789abcdef',
           substr(h, CAST(floor(p / 4) AS INT) + 1, 1)) - 1)
         / power(2.0, p % 4)) AS BIGINT) % 2 AS bit
  FROM stb),
sper_bit AS (
  SELECT doc_id, p, sum(bit * 2 - 1) AS s
  FROM sbits GROUP BY doc_id, p),
shash AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0
              THEN CAST(power(2.0, p) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS simhash
  FROM sper_bit GROUP BY doc_id),
sbands AS (
  SELECT doc_id, simhash, CAST(b AS INT) AS band,
         (simhash >> (12 * CAST(b AS INT))) & 4095 AS bval
  FROM shash, (SELECT unnest(generate_series(0, 3)) AS b) _b)
"""

# 6-band × 3-bit hyperplane LSH signature (18 planes), shared by the
# embedding_neardup_lsh / _capped / overflow oracles — identical md5-derived
# planes and fold order as the Spark side (analysis._with_plane_dots)
_EMB_BANDS_CTE = """
dots AS (
  SELECT vec_id, p,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, len(embedding)), i ->
             CAST(embedding[i] AS DOUBLE) *
             (CASE WHEN (strpos('0123456789abcdef',
                     substr(md5(p || ':' || CAST(i - 1 AS VARCHAR)),
                            2, 1)) - 1) % 2 = 1
                   THEN 1.0 ELSE -1.0 END))),
           (a, b) -> a + b) AS dot
  FROM embeddings, (SELECT unnest(generate_series(0, 17)) AS p) _p),
bands AS (
  SELECT vec_id, CAST(floor(p / 3) AS INT) AS band,
         CAST(sum(CASE WHEN dot > 0
              THEN CAST(power(2.0, p % 3) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS bkey
  FROM dots GROUP BY 1, 2)
"""


def oracle_sql() -> dict[str, str]:
    sql = {
        "cdc_chunks": f"""
            WITH {_cdc_cte(16)}
            SELECT doc_id, chunk_id, start_pos, end_pos, n_tokens, fp
            FROM chks
        """,
        "cdc_chunk_dedup": f"""
            WITH {_cdc_cte(16)}
            SELECT fp, n_tokens,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occurrences
            FROM chks GROUP BY fp, n_tokens
            HAVING count(DISTINCT doc_id) > 1
        """,
        "sitemap_urls": """
            WITH hs AS (SELECT DISTINCT doc_id % 13 AS h FROM documents),
            ex AS (SELECT h,
                          unnest(generate_series(0,
                              CASE WHEN h % 5 = 0 THEN 1
                                   ELSE 1 + CAST(h % 3 AS INT) END)) AS i
                   FROM hs)
            SELECT 'h' || CAST(h AS VARCHAR) || '.example' AS host,
                   CAST(i AS INT) AS pos,
                   CASE WHEN h % 5 = 0
                        THEN 'https://h' || CAST(h AS VARCHAR)
                             || '.example/sm-' || CAST(i AS VARCHAR) || '.xml'
                        ELSE 'https://h' || CAST(h AS VARCHAR)
                             || '.example/p/' || CAST(i AS VARCHAR) END AS loc,
                   CAST(CASE WHEN h % 5 = 0 THEN 1 ELSE 0 END AS INT)
                       AS is_index
            FROM ex
        """,
        "curation_v4": f"""
            WITH {_SHINGLE_CTE},
            bset AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
            fr AS (SELECT sh.doc_id,
                          CAST(count(*) AS BIGINT) AS n_grams,
                          CAST(sum(CASE WHEN b.shingle IS NOT NULL
                                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                   FROM sh LEFT JOIN bset b USING (shingle)
                   GROUP BY sh.doc_id),
            g1 AS (SELECT d.* FROM documents d LEFT JOIN fr USING (doc_id)
                   WHERE coalesce(fr.n_grams, 0) = 0
                      OR coalesce(fr.n_hit, 0) * 100
                         < coalesce(fr.n_grams, 0) * 10),
            hb AS (SELECT doc_id,
                          'h' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0
                                      ELSE doc_id % 37 END AS VARCHAR)
                          || '.example' AS host
                   FROM g1),
            hc AS (SELECT host, CAST(count(*) AS BIGINT) AS host_docs
                   FROM hb GROUP BY host),
            g2 AS (SELECT g1.* FROM g1
                   JOIN hb USING (doc_id) JOIN hc USING (host)
                   WHERE {_hex_int_sql(
                       "md5('hs:' || CAST(hb.doc_id AS VARCHAR))", 1, 5)}
                         < least(1048576, (30 * 1048576) // hc.host_docs)),
            q AS ({_qf_cols_sql('g2')}),
            qkeep AS (SELECT doc_id, n_words FROM q
                      WHERE NOT {_QF_BAD_SQL}),
            g3 AS (SELECT g2.doc_id, g2.text, g2.lang, qkeep.n_words
                   FROM g2 JOIN qkeep USING (doc_id)),
            g3t AS (SELECT doc_id, text FROM g3),
            {_surprisal_cte('g3t')},
            sc AS (SELECT s.doc_id, g.lang, g.n_words, s.mean_micronats
                   FROM surp s JOIN g3 g USING (doc_id)),
            chist AS (SELECT lang, mean_micronats,
                             CAST(count(*) AS BIGINT) AS cnt
                      FROM sc GROUP BY 1, 2),
            ccum AS (SELECT lang, mean_micronats,
                            sum(cnt) OVER (PARTITION BY lang
                                ORDER BY mean_micronats
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                            sum(cnt) OVER (PARTITION BY lang) AS n
                     FROM chist),
            cuts AS (SELECT lang,
                            min(CASE WHEN cum >= (n + 2) // 3
                                     THEN mean_micronats END) AS t1,
                            min(CASE WHEN cum >= (2 * n + 2) // 3
                                     THEN mean_micronats END) AS t2
                     FROM ccum GROUP BY lang)
            SELECT sc.doc_id, sc.lang, sc.n_words, sc.mean_micronats,
                   CASE WHEN sc.mean_micronats <= t1 THEN 'head'
                        ELSE 'middle' END AS bucket
            FROM sc JOIN cuts USING (lang)
            WHERE sc.mean_micronats <= t2
        """,
        "c4_line_filter": """
            WITH built AS (
              SELECT doc_id,
                     array_to_string(list_transform(
                         generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 6.0) AS INT) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '), i * 6 + 1, i * 6 + 6), ' ')
                              || CASE WHEN (doc_id + i) % 2 = 0 THEN '.' ELSE '' END),
                       chr(10))
                     || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 AND doc_id % 11 <> 0
                             THEN chr(10) || 'this page uses javascript heavily right now.'
                             ELSE '' END AS text2
              FROM documents WHERE text IS NOT NULL),
            pages AS (SELECT * FROM built
                      WHERE NOT contains(lower(text2), 'lorem ipsum')
                        AND NOT contains(text2, '{')),
            lns AS (SELECT doc_id, i - 1 AS pos, trim(l[i]) AS line FROM (
                      SELECT doc_id, string_split(text2, chr(10)) AS l,
                             unnest(generate_series(1,
                                 len(string_split(text2, chr(10))))) AS i
                      FROM pages)),
            kept AS (SELECT * FROM lns
                     WHERE regexp_matches(line, '[.!?"]$')
                       AND len(string_split(line, ' ')) >= 5
                       AND NOT contains(lower(line), 'javascript')),
            cnts AS (SELECT doc_id, count(*) AS nk FROM kept GROUP BY doc_id)
            SELECT k.doc_id, CAST(k.pos AS INT) AS pos, k.line
            FROM kept k JOIN cnts USING (doc_id)
            WHERE nk >= 3
        """,
        # r5 onion-style boilerplate: shared CTE building the same pages
        # (header + 2 sliced content lines + even-page footer); list_slice
        # is END-inclusive — (1,3) and (4,len) mirror F.slice(ws,1,3)/
        # F.slice(ws,4,size-3)
        "boilerplate_lines": f"""
            WITH {_BP_BUILT_CTE},
            lns AS (SELECT doc_id, trim(l[i]) AS line FROM (
                      SELECT doc_id, string_split(text2, chr(10)) AS l,
                             unnest(generate_series(1,
                                 len(string_split(text2, chr(10))))) AS i
                      FROM built)),
            d AS (SELECT DISTINCT doc_id, line FROM lns WHERE line <> '')
            SELECT line, CAST(count(*) AS BIGINT) AS n_docs
            FROM d GROUP BY line HAVING count(*) >= 50
        """,
        "scrub_boilerplate": f"""
            WITH {_BP_BUILT_CTE},
            lnsp AS (SELECT doc_id, i AS pos, trim(l[i]) AS line FROM (
                       SELECT doc_id, string_split(text2, chr(10)) AS l,
                              unnest(generate_series(1,
                                  len(string_split(text2, chr(10))))) AS i
                       FROM built)),
            ne AS (SELECT doc_id, pos, line FROM lnsp WHERE line <> ''),
            bp AS (SELECT line FROM (
                     SELECT DISTINCT doc_id, line FROM ne)
                   GROUP BY line HAVING count(*) >= 50),
            kept AS (SELECT doc_id, pos, line FROM ne
                     WHERE line NOT IN (SELECT line FROM bp)),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                    FROM ne GROUP BY doc_id),
            reb AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY pos)
                               AS text_clean,
                           CAST(count(*) AS BIGINT) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT t.doc_id,
                   coalesce(text_clean, '') AS text_clean,
                   CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(t.n_lines - coalesce(n_kept, 0) AS BIGINT)
                       AS n_removed
            FROM tot t LEFT JOIN reb USING (doc_id)
        """,
        # r5 composed chain: onion scrub → Gopher gates on the scrubbed
        # text → latest-snapshot argmax over the survivors; one SQL
        # oracle so any upstream verdict flip breaks the hash
        "curation_v5": """
            WITH built AS (
              SELECT doc_id,
                'top nav menu login' || chr(10) ||
                CASE WHEN doc_id % 13 = 0
                     THEN '- item one' || chr(10) || '- item two'
                          || chr(10) || '- item three'
                     WHEN doc_id % 11 = 0
                     THEN 'first bit...' || chr(10) || 'second bit...'
                          || chr(10) || 'third thing...'
                     ELSE array_to_string(list_slice(ws, 1, 3), ' ')
                          || chr(10)
                          || array_to_string(list_slice(ws, 4, len(ws)), ' ')
                          || CASE WHEN doc_id % 5 = 0
                                  THEN chr(10)
                                       || '##### ##### ##### ##### #####'
                                  ELSE '' END
                END ||
                CASE WHEN doc_id % 2 = 0
                     THEN chr(10) || '© example corp footer' ELSE '' END
                    AS text2
              FROM (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents
                    WHERE text IS NOT NULL
                      AND len(string_split(text, ' ')) >= 6)),
            lnsp AS (SELECT doc_id, i AS pos, trim(l[i]) AS line FROM (
                       SELECT doc_id, string_split(text2, chr(10)) AS l,
                              unnest(generate_series(1,
                                  len(string_split(text2, chr(10))))) AS i
                       FROM built)),
            ne AS (SELECT doc_id, pos, line FROM lnsp WHERE line <> ''),
            bp AS (SELECT line FROM (
                     SELECT DISTINCT doc_id, line FROM ne)
                   GROUP BY line HAVING count(*) >= 50),
            kept AS (SELECT doc_id, pos, line FROM ne
                     WHERE line NOT IN (SELECT line FROM bp)),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                    FROM ne GROUP BY doc_id),
            reb AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY pos)
                               AS text_clean,
                           CAST(count(*) AS BIGINT) AS n_kept
                    FROM kept GROUP BY doc_id),
            scrubbed AS (
              SELECT t.doc_id,
                     coalesce(text_clean, '') AS text_clean,
                     CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
                     CAST(t.n_lines - coalesce(n_kept, 0) AS BIGINT)
                         AS n_removed
              FROM tot t LEFT JOIN reb USING (doc_id)),
            feats AS (SELECT doc_id,
              list_filter(string_split(replace(text_clean, chr(10), ' '),
                          ' '), w -> w <> '') AS words,
              list_filter(list_transform(string_split(text_clean, chr(10)),
                          x -> trim(x)), x -> x <> '') AS lines,
              length(text_clean) - length(replace(text_clean, '#', ''))
                  AS n_hash,
              len(string_split(text_clean, '...')) - 1 AS n_ellipsis
              FROM scrubbed),
            m AS (SELECT doc_id,
              CAST(len(words) AS BIGINT) AS n_words,
              CAST(len(lines) AS BIGINT) AS n_lines,
              n_hash, n_ellipsis,
              len(list_filter(lines, x -> x LIKE '-%' OR x LIKE '*%'
                  OR x LIKE '•%')) AS n_bullet,
              len(list_filter(lines, x -> x LIKE '%...')) AS n_ell_end,
              len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                  AS n_alpha
              FROM feats),
            surv AS (SELECT doc_id FROM m
                     WHERE NOT ((n_hash + n_ellipsis) * 100 > 10 * n_words)
                       AND NOT (n_bullet * 100 > 90 * n_lines)
                       AND NOT (n_ell_end * 100 > 30 * n_lines)
                       AND NOT (n_alpha * 100 < 80 * n_words)),
            snaps AS (SELECT doc_id,
                             'u' || CAST(doc_id // 5 AS VARCHAR) AS key,
                             ((doc_id // 2) * 37) % 1000 AS ts
                      FROM surv),
            p AS (SELECT key, max(ts * 1048576 + doc_id) AS pk
                  FROM snaps GROUP BY key),
            latest AS (SELECT key,
                              CAST(pk % 1048576 AS BIGINT) AS doc_id,
                              CAST(pk // 1048576 AS BIGINT) AS ts
                       FROM p)
            SELECT l.key, l.doc_id, l.ts, s.n_kept, s.n_removed
            FROM latest l JOIN scrubbed s USING (doc_id)
        """,
        # r5 WET roundtrip: payload passthrough (+ the %9 framing decoy)
        "wet_roundtrip": """
            SELECT doc_id,
                   CASE WHEN doc_id % 9 = 0
                        THEN text || ' WARC/1.0 Content-Length: 3'
                        ELSE text END AS text
            FROM documents WHERE text IS NOT NULL
        """,
        # r5 crawl diff: same synthesized snapshots, plain SQL full-outer
        "crawl_diff": """
            WITH t AS (SELECT doc_id, text FROM documents
                       WHERE text IS NOT NULL),
            old AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                           md5(text) AS h FROM t),
            new AS (
              SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                     md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                              ELSE text END) AS h
              FROM t WHERE doc_id % 11 <> 0
              UNION ALL
              SELECT 'u' || CAST(doc_id AS VARCHAR) || 'x', md5(text)
              FROM t WHERE doc_id % 13 = 0),
            j AS (SELECT coalesce(o.url, n.url) AS url, o.h AS ho, n.h AS hn
                  FROM old o FULL OUTER JOIN new n ON o.url = n.url)
            SELECT url,
                   CASE WHEN ho IS NULL THEN 'added'
                        WHEN hn IS NULL THEN 'removed'
                        WHEN ho <> hn THEN 'changed' END AS status
            FROM j
            WHERE ho IS NULL OR hn IS NULL OR ho <> hn
        """,
        # r5 session-2 UT1-style blocklist gate: the oracle matches by
        # host = d OR host LIKE '%.'||d (label-boundary semantics — the
        # planted 'xample.org' entry breaks any endswith matcher), picks
        # the longest match, and normalizes case + trailing dots; the
        # duplicate entry must not multiply rows
        "url_blocklist": """
            WITH urls AS (
              SELECT doc_id,
                     'https://w' || (doc_id % 3) || '.h' || (doc_id % 7)
                       || '.Example.ORG/p/' || doc_id AS url,
                     'w' || (doc_id % 3) || '.h' || (doc_id % 7)
                       || '.example.org' AS host
              FROM documents),
            bl AS (
              SELECT DISTINCT regexp_replace(lower(domain), '[.]$', '') AS d
              FROM (VALUES ('h3.example.org'), ('h3.example.org.'),
                           ('W2.h5.Example.org'), ('example.net'),
                           ('xample.org')) AS t(domain)),
            m AS (
              SELECT u.doc_id, u.url, u.host, b.d
              FROM urls u
              LEFT JOIN bl b
                ON u.host = b.d OR u.host LIKE '%.' || b.d)
            SELECT doc_id, url, host,
                   CAST(CASE WHEN max(d) IS NOT NULL THEN 1 ELSE 0 END
                        AS INT) AS blocked,
                   arg_max(d, length(d)) AS matched_domain
            FROM m GROUP BY doc_id, url, host
        """,
        # r5 session-2 table extraction roundtrip: every cell predicted
        # from the SQL page builder — wrong walk order, a nested table
        # leaking rows into its parent, or th/td confusion breaks the hash
        "extract_tables_roundtrip": """
            SELECT doc_id, CAST(0 AS INT) AS table_idx,
                   CAST(0 AS INT) AS row_idx, CAST(0 AS INT) AS col_idx,
                   CAST(1 AS INT) AS is_header, 'name' AS cell
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, CAST(0 AS INT), CAST(0 AS INT), CAST(1 AS INT),
                   CAST(1 AS INT), 'w' || CAST(doc_id % 5 AS VARCHAR)
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, CAST(0 AS INT), CAST(1 AS INT), CAST(0 AS INT),
                   CAST(0 AS INT),
                   array_to_string(list_slice(string_split(text, ' '), 1, 2),
                                   ' ')
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, CAST(0 AS INT), CAST(1 AS INT), CAST(1 AS INT),
                   CAST(0 AS INT),
                   array_to_string(list_slice(string_split(text, ' '), 3, 4),
                                   ' ')
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, CAST(1 AS INT), CAST(0 AS INT), CAST(0 AS INT),
                   CAST(0 AS INT), 'extra ' || CAST(doc_id AS VARCHAR)
            FROM documents WHERE text IS NOT NULL AND doc_id % 9 = 0
        """,
        # r5 session-2 politeness schedule: per-host rank + offset; the
        # mixed-case delay table must case-fold onto the crawl hosts
        "politeness_schedule": """
            WITH f AS (
              SELECT 'https://h' || (doc_id % 7) || '.example/p/' || doc_id
                       AS url,
                     'h' || (doc_id % 7) || '.example' AS host,
                     CAST(doc_id % 13 AS BIGINT) AS n_refs
              FROM documents),
            d AS (SELECT lower(h) AS host, 2000 AS delay_ms
                  FROM (VALUES ('H1.example'), ('h3.EXAMPLE'),
                               ('h5.example')) AS t(h)),
            r AS (SELECT url, f.host, n_refs,
                         row_number() OVER (PARTITION BY f.host
                             ORDER BY n_refs DESC, url ASC) - 1 AS pos,
                         coalesce(d.delay_ms, 1000) AS delay
                  FROM f LEFT JOIN d ON d.host = f.host)
            SELECT url, host, CAST(pos AS INT) AS position,
                   CAST(pos * delay AS BIGINT) AS fetch_offset_ms
            FROM r
        """,
        # r5 session-2 robots-meta gate: verdicts + content predicted
        # from the builder (case fold, 'none' expansion, null for
        # meta-less pages)
        "meta_robots": """
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 4 IN (0, 3) THEN 1 ELSE 0 END
                        AS INT) AS noindex,
                   CAST(CASE WHEN doc_id % 4 IN (1, 3) THEN 1 ELSE 0 END
                        AS INT) AS nofollow,
                   CASE WHEN doc_id % 4 = 0 THEN 'noindex, follow'
                        WHEN doc_id % 4 = 1 THEN 'NOFOLLOW'
                        WHEN doc_id % 4 = 3 THEN 'none' END AS content
            FROM documents WHERE text IS NOT NULL
        """,
        # r5 session-2 composed chain (NFC → script gate → paragraph
        # dedup → blocklist): every stage is set-dependent, so a wrong
        # verdict anywhere shifts fp/n_kept downstream and breaks the hash
        "curation_v6": _curation_v6_sql(),
        # r5 session-2 sentence segmentation: the oracle applies the SAME
        # documented naive rule (terminal punct + whitespace, explicit
        # [ \t\n\r] class, marker split) — including the 'Dr. Smith'
        # abbreviation split the docstring owns up to
        "sentence_split": f"""
            WITH {_sent_ctes('documents')}
            SELECT doc_id, CAST(sent_pos AS INT) AS sent_pos, sentence
            FROM s
        """,
        # r5 session-14 centroid summary: distinct-token idf sums per
        # sentence (milli-nats) + packed argmax with lead-bias tiebreak;
        # a wrong idf quantization, a tf leak (repeated in-sentence
        # token), or a tie going to the later sentence breaks the hash
        "centroid_summary": f"""
            WITH {_sent_ctes('documents')},
            {_centroid_ctes('documents WHERE text IS NOT NULL')},
            ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents
                   FROM s GROUP BY doc_id)
            SELECT cwin.doc_id,
                   CAST(1048575 - (p % 1048576) AS INT) AS sent_pos,
                   s.sentence,
                   p // 1048576 AS score_milli,
                   ns.n_sents
            FROM cwin
            JOIN s ON s.doc_id = cwin.doc_id
                  AND s.sent_pos = 1048575 - (p % 1048576)
            JOIN ns ON ns.doc_id = cwin.doc_id
        """,
        # r5 session-14 Kaplan-Meier: per-lifetime at-risk suffix sums +
        # per-step micro-nat ln quantized BEFORE the cumulative sum; a
        # wrong censor rule, risk-set order, or a sentinel where the
        # curve hits zero breaks the hash
        "kaplan_meier": """
            WITH pu AS (SELECT user_id,
                               CAST(min(datediff('day', DATE '2024-01-01',
                                                 CAST(ts AS DATE)))
                                    AS BIGINT) AS f,
                               CAST(max(datediff('day', DATE '2024-01-01',
                                                 CAST(ts AS DATE)))
                                    AS BIGINT) AS l
                        FROM events
                        WHERE datediff('day', DATE '2024-01-01',
                                       CAST(ts AS DATE))
                              <= (user_id % 25) + 2
                        GROUP BY user_id),
            gm AS (SELECT max(l) AS gmax FROM pu),
            lv AS (SELECT l - f AS t_days,
                          CASE WHEN l >= gmax - 6 THEN 1 ELSE 0 END
                              AS is_cens
                   FROM pu CROSS JOIN gm),
            grid AS (SELECT t_days,
                            CAST(count(*) AS BIGINT) AS c_all,
                            CAST(sum(1 - is_cens) AS BIGINT) AS n_events,
                            CAST(sum(is_cens) AS BIGINT) AS n_censored
                     FROM lv GROUP BY t_days),
            risk AS (SELECT t_days, n_events, n_censored,
                            CAST(sum(c_all) OVER (ORDER BY t_days DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS n_risk
                     FROM grid),
            st AS (SELECT t_days, n_risk, n_events, n_censored,
                          CASE WHEN n_events = 0 THEN 0
                               WHEN n_risk > n_events THEN
                                 CAST(floor(ln(
                                   CAST(n_risk - n_events AS DOUBLE)
                                   / CAST(n_risk AS DOUBLE)) * 1000000)
                                   AS BIGINT)
                               ELSE 0 END AS step,
                          CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END
                              AS z
                   FROM risk)
            SELECT t_days, n_risk, n_events, n_censored,
                   CASE WHEN max(z) OVER (ORDER BY t_days
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) = 1 THEN NULL
                        ELSE CAST(sum(step) OVER (ORDER BY t_days
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT)
                   END AS log_surv_micro
            FROM st
        """,
        # r5 session-14 host path entropy: micro-nat c*ln(c) per
        # template BEFORE the sum (identical float trees), integer
        # division after; schemeless rows excluded
        "host_path_entropy": f"""
            WITH {_urlt_ctes()},
            tc AS (SELECT host, template, CAST(count(*) AS BIGINT) AS c
                   FROM p WHERE host IS NOT NULL
                   GROUP BY host, template),
            hh AS (SELECT host, CAST(sum(c) AS BIGINT) AS n_urls,
                          CAST(count(*) AS BIGINT) AS n_templates,
                          CAST(max(c) AS BIGINT) AS maxc,
                          CAST(sum(CAST(floor(CAST(c AS DOUBLE)
                               * ln(CAST(c AS DOUBLE))
                               * CAST(1000000 AS DOUBLE)) AS BIGINT))
                               AS BIGINT) AS clnc
                   FROM tc GROUP BY host)
            SELECT host, n_urls, n_templates,
                   CAST(CAST(floor(ln(CAST(n_urls AS DOUBLE))
                        * CAST(1000000 AS DOUBLE)) AS BIGINT)
                        - clnc // n_urls AS BIGINT) AS entropy_micro,
                   CAST(maxc * 1000 // n_urls AS BIGINT) AS top_share_milli
            FROM hh
        """,
        # r5 session-14 weighted median: first row with 2*cumw >= W in
        # the (value, id) order — min over the packed key of the suffix
        "weighted_median_quality": """
            WITH base AS (
              SELECT source AS grp,
                     (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       * 1000 // (length(text) + 1)) * 1048576 + doc_id
                         AS p,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS w
              FROM documents WHERE text IS NOT NULL),
            cum AS (SELECT grp, p, w,
                           CAST(sum(w) OVER (PARTITION BY grp ORDER BY p
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cw
                    FROM base),
            tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
                           CAST(sum(w) AS BIGINT) AS w_total
                    FROM base GROUP BY grp)
            SELECT cum.grp AS source, tot.n_rows, tot.w_total,
                   CAST(min(p) // 1048576 AS BIGINT) AS median_value
            FROM cum JOIN tot ON tot.grp = cum.grp
            WHERE 2 * cw >= w_total
            GROUP BY cum.grp, tot.n_rows, tot.w_total
        """,
        # r5 session-14 per-label centroid cards: the embedding_drift
        # integer staging per label vs the global mean
        "label_centroid_profile": """
            WITH ldims AS (SELECT label, d - 1 AS d,
                          greatest(-1000, least(1000,
                            CAST(round(CAST(embedding[d] AS DOUBLE) * 1000)
                                 AS BIGINT))) AS val
                   FROM embeddings,
                        (SELECT unnest(generate_series(1, 64)) AS d) dd),
            lp AS (SELECT label, d, CAST(sum(val) AS BIGINT) AS s,
                          CAST(count(*) AS BIGINT) AS cnt
                   FROM ldims GROUP BY label, d),
            lg AS (SELECT d, CAST(sum(val) AS BIGINT) AS gs,
                          CAST(count(*) AS BIGINT) AS gcnt
                   FROM ldims GROUP BY d),
            gm AS (SELECT d,
                          (gs * 100 + 100000 * gcnt) // gcnt - 100000
                              AS gmean
                   FROM lg),
            lmn AS (SELECT label, d, cnt,
                          (s * 100 + 100000 * cnt) // cnt - 100000
                              AS lmean
                   FROM lp),
            cd AS (SELECT label,
                          CAST(max(cnt) AS BIGINT) AS n,
                          CAST(sum(lmean * gmean) AS BIGINT) AS dot,
                          CAST(sum(lmean * lmean) AS BIGINT) AS sqa,
                          CAST(sum(gmean * gmean) AS BIGINT) AS sqb,
                          max(abs(lmean - gmean) * 128 + (127 - d)) AS pk
                   FROM lmn JOIN gm USING (d) GROUP BY label),
            r0 AS (SELECT *,
                          CAST(floor(sqrt(CAST(sqa AS DOUBLE))) AS BIGINT)
                              AS ya0,
                          CAST(floor(sqrt(CAST(sqb AS DOUBLE))) AS BIGINT)
                              AS yb0
                   FROM cd),
            r1 AS (SELECT *,
                          ya0 + CASE WHEN (ya0 + 1) * (ya0 + 1) <= sqa
                                     THEN 1 ELSE 0 END AS ya1,
                          yb0 + CASE WHEN (yb0 + 1) * (yb0 + 1) <= sqb
                                     THEN 1 ELSE 0 END AS yb1
                   FROM r0),
            fin AS (SELECT label, n, dot, pk,
                          ya1 - CASE WHEN ya1 * ya1 > sqa
                                     THEN 1 ELSE 0 END AS ia,
                          yb1 - CASE WHEN yb1 * yb1 > sqb
                                     THEN 1 ELSE 0 END AS ib
                   FROM r1)
            SELECT label, n,
                   CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END)
                        * least((abs(dot) * 1000000)
                                // greatest(ia * ib, 1), 1000000)
                        AS BIGINT) AS cos_micro,
                   CAST(127 - (pk % 128) AS INT) AS top_dim,
                   CAST((pk // 128) * 10 AS BIGINT) AS top_delta_micro
            FROM fin
        """,
        # r5 session-14 per-source quality percentile: (qa ASC, doc_id
        # ASC) rank inside each source, integer percentile; a wrong
        # tiebreak or a global (unpartitioned) rank breaks the hash
        "quality_percentile_by_source": """
            WITH base AS (
              SELECT doc_id, source,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       * 1000 // (length(text) + 1) AS qa_milli
              FROM documents WHERE text IS NOT NULL),
            rk AS (SELECT doc_id, source, qa_milli,
                          row_number() OVER (PARTITION BY source
                              ORDER BY qa_milli ASC, doc_id ASC) AS r,
                          count(*) OVER (PARTITION BY source) AS n
                   FROM base)
            SELECT doc_id, source, CAST(qa_milli AS BIGINT) AS qa_milli,
                   CAST((r - 1) * 1000 // greatest(n - 1, 1) AS BIGINT)
                       AS pct_milli
            FROM rk
        """,
        # r5 session-14 hub-removal resilience: top-k hubs by
        # (outdeg DESC, src ASC) over the deduped ring+affine+hub set,
        # node-removal cut, two unrolled depth-6 reaches
        "hub_removal_impact": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            hubs AS (SELECT src AS hub FROM (
                       SELECT src, row_number() OVER (
                           ORDER BY outdeg DESC, src ASC) AS rn
                       FROM od) WHERE rn <= 10),
            ecut AS MATERIALIZED (SELECT src, dst FROM e1
                    WHERE src NOT IN (SELECT hub FROM hubs)
                      AND dst NOT IN (SELECT hub FROM hubs)),
            {_reach_ctes('ra', 'e1', 'doc_id % 97 = 0')},
            {_reach_ctes('rb', 'ecut',
                         "doc_id % 97 = 0 AND doc_id NOT IN"
                         " (SELECT hub FROM hubs)")}
            SELECT 'full' AS variant,
                   (SELECT CAST(count(*) AS BIGINT) FROM (
                      SELECT src AS n FROM e1
                      UNION SELECT dst FROM e1)) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges,
                   (SELECT CAST(count(*) AS BIGINT) FROM rad6) AS n_reached
            UNION ALL
            SELECT 'hubs_removed' AS variant,
                   (SELECT CAST(count(*) AS BIGINT) FROM (
                      SELECT src AS n FROM ecut
                      UNION SELECT dst FROM ecut)) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM ecut) AS n_edges,
                   (SELECT CAST(count(*) AS BIGINT) FROM rbd6) AS n_reached
        """,
        # r5 session-14 crawl-value composition: the SAME _pr3_ctes and
        # _recrawl_ctes chains as the standalone rows, joined on the
        # node->url map, integer product value, (value DESC, url) top-20
        "crawl_value_rank": f"""
            WITH {_pr3_ctes()},
            {_recrawl_ctes()},
            val AS (SELECT chg.url, p3.p AS rank_micro, chg.change_milli,
                           CAST((p3.p * chg.change_milli) // 1000
                                AS BIGINT) AS value_micro
                    FROM chg JOIN p3
                      ON 'u' || CAST(p3.node AS VARCHAR) = chg.url)
            SELECT url, rank_micro, change_milli, value_micro,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                      ORDER BY value_micro DESC, url ASC) AS rank
                  FROM val)
            WHERE rank <= 20
        """,
        # r5 session-14 snapshot line churn: packed (ts,id) per-key
        # order + full-outer line-set diff per consecutive pair; a
        # wrong tie order or a leaked beyond-newest pair breaks the hash
        "snapshot_line_diff": f"""
            WITH {_REVISIT_SNAPS_CTE},
            st AS (SELECT doc_id, url,
                          ts * 1048576 + doc_id AS p,
                          array_to_string(list_filter(list_transform(
                              generate_series(0, 9),
                              j -> CASE WHEN (doc_id + j * 7) % 11 > 3
                                   THEN 'L' || CAST(j AS VARCHAR)
                                   ELSE '' END), x -> x <> ''),
                            chr(10)) AS t
                   FROM s),
            rk AS (SELECT url AS key, t,
                          row_number() OVER (PARTITION BY url
                              ORDER BY p) AS rank
                   FROM st),
            ln AS (SELECT DISTINCT key, rank, line
                   FROM (SELECT key, rank,
                                unnest(string_split(t, chr(10))) AS line
                         FROM rk)
                   WHERE line <> ''),
            mx AS (SELECT key, max(rank) - 1 AS maxpair
                   FROM rk GROUP BY key),
            pv AS (SELECT key, rank AS pair_idx, line, 1 AS c_prev
                   FROM ln),
            cu AS (SELECT key, rank - 1 AS pair_idx, line, 1 AS c_cur
                   FROM ln WHERE rank >= 2),
            fo AS (SELECT COALESCE(pv.key, cu.key) AS key,
                          COALESCE(pv.pair_idx, cu.pair_idx) AS pair_idx,
                          pv.c_prev, cu.c_cur
                   FROM pv FULL OUTER JOIN cu
                     ON pv.key = cu.key AND pv.pair_idx = cu.pair_idx
                    AND pv.line = cu.line)
            SELECT fo.key, CAST(fo.pair_idx AS INT) AS pair_idx,
                   CAST(sum(CASE WHEN c_prev IS NULL AND c_cur IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                   CAST(sum(CASE WHEN c_prev IS NOT NULL AND c_cur IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                   CAST(sum(CASE WHEN c_prev IS NOT NULL
                                  AND c_cur IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM fo JOIN mx ON mx.key = fo.key
            WHERE fo.pair_idx <= mx.maxpair
            GROUP BY fo.key, fo.pair_idx
        """,
        # r5 session-14 seasonal strength: fixed-point truncated ANOVA
        # ratio over daily counts; a wrong slot mod, an untruncated
        # division, or a tie going to the later slot breaks the hash
        "seasonal_strength": """
            WITH daily AS (
              SELECT datediff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS day,
                     CAST(count(*) AS BIGINT) AS y
              FROM events
              WHERE datediff('day', DATE '2024-01-01',
                             CAST(ts AS DATE)) % 7 >= 2
                 OR event_id % 3 = 0
              GROUP BY day),
            slots AS (SELECT day % 7 AS w,
                             CAST(count(*) AS BIGINT) AS n_w,
                             CAST(sum(y) AS BIGINT) AS s_w
                      FROM daily GROUP BY day % 7),
            ps AS (SELECT w, n_w, s_w,
                          s_w * s_w * 1000 // n_w AS b_term,
                          s_w * 1000 // n_w AS mean_milli
                   FROM slots),
            gl AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                            CAST(sum(y) AS BIGINT) AS s,
                            CAST(sum(y * y) AS BIGINT) AS q
                     FROM daily),
            ag AS (SELECT CAST(sum(b_term) AS BIGINT) AS b_sum,
                          max(mean_milli * 7 + (6 - w)) AS pk
                   FROM ps)
            SELECT n_days,
                   CAST(greatest(b_sum - s * s * 1000 // n_days, 0) * 1000
                        // greatest(q * 1000 - s * s * 1000 // n_days, 1)
                        AS BIGINT) AS strength_milli,
                   CAST(6 - (pk % 7) AS INT) AS peak_slot,
                   CAST(pk // 7 AS BIGINT) AS peak_mean_milli
            FROM gl CROSS JOIN ag
        """,
        # r5 session-14 DP release: per-group inverse-CDF Laplace with
        # the float tree spelled IDENTICALLY to the Spark side (the
        # bm25_batch rule) and the sign applied after the floor
        "dp_release": f"""
            WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_true
                         FROM documents GROUP BY source),
            st AS (SELECT source, n_true,
                          2 * {_hex_int_sql("md5('dp0:' || source)", 1, 8)}
                          + 1 - 4294967296 AS s
                   FROM cnt),
            mg AS (SELECT source, n_true, s,
                          CAST(floor(CAST(1000 AS DOUBLE)
                               / CAST(1000 AS DOUBLE)
                               * (-ln(CAST(4294967296 - abs(s) AS DOUBLE)
                                      / CAST(4294967296 AS DOUBLE)))
                               * CAST(1000000 AS DOUBLE)) AS BIGINT) AS mag
                   FROM st)
            SELECT source, n_true,
                   CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) * mag
                        AS BIGINT) AS noise_micro,
                   CAST(n_true * 1000000
                        + (CASE WHEN s < 0 THEN -1 ELSE 1 END) * mag
                        AS BIGINT) AS noisy_micro
            FROM mg
        """,
        # r5 session-14 mutual-NN pairing over the SHIPPED int8 space:
        # integer dots (codegen explode twin on the Spark side), isqrt
        # norms, sign-peeled cos_milli, (cos DESC, id ASC) top-1
        "mutual_nn_pairs": f"""
            WITH {_int8_cte()},
            mdims AS (SELECT vec_id, d, qvec[d] AS v FROM q,
                      (SELECT unnest(generate_series(1, 64)) AS d) dd),
            msq AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS sq
                    FROM mdims GROUP BY vec_id),
            msqp AS (SELECT vec_id, sq FROM msq WHERE sq > 0),
            mn0 AS (SELECT vec_id, sq,
                           CAST(floor(sqrt(CAST(sq AS DOUBLE))) AS BIGINT)
                               AS y0
                    FROM msqp),
            mn1 AS (SELECT vec_id, sq,
                           y0 + CASE WHEN (y0 + 1) * (y0 + 1) <= sq
                                     THEN 1 ELSE 0 END AS y1
                    FROM mn0),
            mnrm AS (SELECT vec_id,
                           y1 - CASE WHEN y1 * y1 > sq
                                     THEN 1 ELSE 0 END AS nrm
                    FROM mn1),
            mdot AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                            CAST(sum(a.v * b.v) AS BIGINT) AS dot
                     FROM mdims a JOIN mdims b USING (d)
                     WHERE a.vec_id <> b.vec_id
                     GROUP BY a.vec_id, b.vec_id),
            mcos AS (SELECT va, vb,
                            CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END)
                                 * ((abs(dot) * 1000)
                                    // greatest(na.nrm * nb.nrm, 1))
                                 AS BIGINT) AS cos_milli
                     FROM mdot
                     JOIN mnrm na ON na.vec_id = mdot.va
                     JOIN mnrm nb ON nb.vec_id = mdot.vb),
            mtop AS (SELECT va, vb, cos_milli,
                            row_number() OVER (PARTITION BY va
                                ORDER BY cos_milli DESC, vb ASC) AS rn
                     FROM mcos),
            t1 AS (SELECT va, vb, cos_milli FROM mtop WHERE rn = 1)
            SELECT t1.va AS vec_id_a, t1.vb AS vec_id_b, t1.cos_milli
            FROM t1 JOIN t1 t2 ON t1.vb = t2.va AND t1.va = t2.vb
            WHERE t1.va < t1.vb
        """,
        # r5 session-14 landmark Katz: per-level truncated attenuation;
        # a wrong level join or a post-sum division breaks the hash
        "katz_centrality": f"""
            WITH {_katz_ctes(4, 4)}
            SELECT node, CAST(sum(k) AS BIGINT) AS katz_milli,
                   CAST(sum(nw) AS BIGINT) AS n_walks_total
            FROM kall GROUP BY node
        """,
        # r5 session-14 composed chain: spoof gate -> _qf gate ->
        # centroid lead-rate; every stage is set-dependent, so a wrong
        # verdict anywhere shifts the downstream counts
        "curation_v10": f"""
            WITH {_spoof_ctes('documents')},
            d1 AS (SELECT d.doc_id, d.text FROM documents d
                   JOIN spf USING (doc_id)
                   WHERE spf.n_mixed = 0 AND d.text IS NOT NULL),
            qsig AS ({_qf_cols_sql('d1')}),
            d2 AS (SELECT d1.doc_id, d1.text FROM d1
                   JOIN qsig USING (doc_id)
                   WHERE NOT {_QF_BAD_SQL}),
            {_sent_ctes('d2')},
            {_centroid_ctes('d2')},
            card AS (SELECT
                CAST((SELECT count(*) FROM documents
                      WHERE text IS NOT NULL) AS BIGINT) AS n_input,
                CAST((SELECT count(*) FROM d1) AS BIGINT) AS n_unspoofed,
                CAST((SELECT count(*) FROM d2) AS BIGINT) AS n_quality,
                CAST((SELECT count(*) FROM cwin
                      WHERE p % 1048576 = 1048575) AS BIGINT) AS n_lead)
            SELECT n_input, n_unspoofed, n_quality, n_lead,
                   CAST(n_lead * 1000 // n_quality AS BIGINT) AS lead_milli
            FROM card
        """,
        # r5 session-14 distance histogram: reuses the harmonic BFS CTE
        # chain; the 90% effective-diameter rule is cross-multiplied —
        # no division in the verdict
        "distance_distribution": f"""
            WITH {_hc_ctes(4)},
            hist AS (SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
                     FROM h4 WHERE dist >= 1 GROUP BY dist),
            tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM hist),
            cum AS (SELECT dist, n_pairs,
                           CAST(sum(n_pairs) OVER (ORDER BY dist
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_pairs,
                           t
                    FROM hist CROSS JOIN tot)
            SELECT dist, n_pairs, cum_pairs,
                   CAST(cum_pairs * 1000 // t AS BIGINT) AS cum_milli,
                   CASE WHEN cum_pairs * 10 >= t * 9
                         AND (cum_pairs - n_pairs) * 10 < t * 9
                        THEN 1 ELSE 0 END AS is_eff_diameter
            FROM cum
        """,
        # r5 session-14 landmark Brandes: σ-carrying BFS + per-term
        # truncated integer δ accumulation; a wrong frontier filter,
        # σ double-count, or division order breaks the hash
        "betweenness_approx": f"""
            WITH {_bw_ctes(4)}
            SELECT node, CAST(sum(delta) AS BIGINT) AS bc_micro,
                   CAST(count(*) AS BIGINT) AS n_seeds
            FROM ball WHERE node <> seed
            GROUP BY node
        """,
        # r5 session-14 homoglyph card: ≥2-of-{latin,cyrillic,greek}
        # per-token flags (classes interpolated from SCRIPT_CLASSES —
        # one definition, both engines); the pure-cyrillic token must
        # NOT flag, the two planted confusables must
        "mixed_script_spoof": f"""
            WITH {_spoof_ctes('documents')}
            SELECT doc_id, n_tokens, n_mixed, spoof_milli, top_suspect
            FROM spf
        """,
        # r5 session-14 mean-vector drift: offset floor-div means, isqrt
        # norms, sign-peeled cosine; the planted +0.25 dim-0 shift must
        # surface as top_dim=0 with a lower cosine than the parity split
        "embedding_drift": f"""
            WITH {_edrift_ctes('da', 'embedding')},
            {_edrift_ctes('db', '''list_concat(
                    [CAST(embedding[1] AS DOUBLE)
                     + CASE WHEN vec_id % 2 = 1 THEN CAST(0.25 AS DOUBLE)
                            ELSE CAST(0 AS DOUBLE) END],
                    list_transform(embedding[2:64],
                                   x -> CAST(x AS DOUBLE)))''')}
            SELECT 'parity' AS split, n_a, n_b,
                   CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END)
                        * least((abs(dot) * 1000000)
                                // greatest(ia * ib, 1), 1000000)
                        AS BIGINT) AS cos_micro,
                   CAST(127 - (pk % 128) AS INT) AS top_dim,
                   CAST((pk // 128) * 10 AS BIGINT) AS top_delta_micro
            FROM dafin
            UNION ALL
            SELECT 'dim0_shift' AS split, n_a, n_b,
                   CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END)
                        * least((abs(dot) * 1000000)
                                // greatest(ia * ib, 1), 1000000)
                        AS BIGINT) AS cos_micro,
                   CAST(127 - (pk % 128) AS INT) AS top_dim,
                   CAST((pk // 128) * 10 AS BIGINT) AS top_delta_micro
            FROM dbfin
        """,
        # r5 session-14 bipartite certificate: same-parity reached edges
        # over two planted graphs — a wrong BFS round, a missed
        # symmetrization, or a chord leaking into the odd-delta graph
        # flips a card value
        "bipartite_check": f"""
            WITH nbp AS (SELECT CAST(count(*) AS BIGINT) AS n
                         FROM documents),
            {_bip_ctes('pa', chord=False)},
            {_bip_ctes('pb', chord=True)}
            SELECT 'odd_deltas' AS graph,
                   (SELECT CAST(count(*) AS BIGINT) FROM pad8)
                       AS n_reached,
                   CAST(count(*) AS BIGINT) AS n_edges_reached,
                   CAST(COALESCE(sum(confl), 0) AS BIGINT) AS n_conflicts,
                   CASE WHEN COALESCE(sum(confl), 0) = 0 THEN 1 ELSE 0 END
                       AS is_bipartite
            FROM pacp
            UNION ALL
            SELECT 'parity_chord' AS graph,
                   (SELECT CAST(count(*) AS BIGINT) FROM pbd8)
                       AS n_reached,
                   CAST(count(*) AS BIGINT) AS n_edges_reached,
                   CAST(COALESCE(sum(confl), 0) AS BIGINT) AS n_conflicts,
                   CASE WHEN COALESCE(sum(confl), 0) = 0 THEN 1 ELSE 0 END
                       AS is_bipartite
            FROM pbcp
        """,
        # r5 session-2 CDX index: surt PREDICTED from the builder — a
        # wrong label reversal, kept fragment, missed lowercase, or a
        # schemeless row collapsing into a non-null key breaks the hash
        "cdx_index": """
            SELECT CASE WHEN doc_id % 11 = 0 THEN NULL
                        ELSE 'org,example,h' || (doc_id % 7) || ',w'
                             || (doc_id % 3) || ')/p/' || doc_id
                             || '?q=' || (doc_id % 5) END AS surt,
                   CAST((doc_id * 37) % 1000 AS BIGINT) AS ts,
                   md5('d' || CAST(doc_id AS VARCHAR)) AS digest,
                   CASE WHEN doc_id % 11 = 0 THEN 'page-' || doc_id
                        ELSE 'https://W' || (doc_id % 3) || '.h'
                             || (doc_id % 7) || '.Example.ORG/p/' || doc_id
                             || '?q=' || (doc_id % 5) || '#sec' END AS url
            FROM documents
        """,
        # r5 session-2 header-keyed pairs: the %9 headerless table must
        # contribute NOTHING (no key row), the 2x2 table exactly two pairs
        "table_kv": """
            SELECT doc_id, CAST(0 AS INT) AS table_idx,
                   CAST(1 AS INT) AS row_idx, 'name' AS key,
                   array_to_string(list_slice(string_split(text, ' '), 1, 2),
                                   ' ') AS value
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, CAST(0 AS INT), CAST(1 AS INT),
                   'w' || CAST(doc_id % 5 AS VARCHAR),
                   array_to_string(list_slice(string_split(text, ' '), 3, 4),
                                   ' ')
            FROM documents WHERE text IS NOT NULL
        """,
        # r5 session-2 script composition: oracle generated from the SAME
        # SCRIPT_CLASSES ranges + snippet plants as the Spark side
        "script_profile": _script_profile_sql(),
        # r5 session-2 first-occurrence paragraph dedup: winner =
        # min(doc_id*2^20 + pos) per exact trimmed paragraph (1-based
        # pos here vs Spark's 0-based is a constant shift — the same
        # lexicographic order, so the same winners)
        "paragraph_dedup": f"""
            WITH {_BP_BUILT_CTE},
            lnsp AS (SELECT doc_id, i AS pos, trim(l[i]) AS line FROM (
                       SELECT doc_id, string_split(text2, chr(10)) AS l,
                              unnest(generate_series(1,
                                  len(string_split(text2, chr(10))))) AS i
                       FROM built)),
            ne AS (SELECT doc_id, pos, line FROM lnsp WHERE line <> ''),
            w AS (SELECT line, min(doc_id * 1048576 + pos) AS wp
                  FROM ne GROUP BY line),
            kept AS (SELECT ne.doc_id, ne.pos, ne.line
                     FROM ne JOIN w ON ne.line = w.line
                     WHERE ne.doc_id * 1048576 + ne.pos = w.wp),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                    FROM ne GROUP BY doc_id),
            reb AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY pos)
                               AS text_dedup,
                           CAST(count(*) AS BIGINT) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT t.doc_id,
                   coalesce(text_dedup, '') AS text_dedup,
                   CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(t.n_lines - coalesce(n_kept, 0) AS BIGINT)
                       AS n_removed
            FROM tot t LEFT JOIN reb USING (doc_id)
        """,
        # r5 session-2 NFC normalization: DuckDB's nfc_normalize is an
        # independent UAX#15 implementation (utf8proc) vs Python's
        # unicodedata — the hash check certifies real canonical
        # composition on combining marks, the U+212B singleton, and
        # Hangul jamo, plus identity on the ASCII fast path
        "nfc_normalize": """
            WITH built AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 2 = 0
                          THEN ' cafe' || chr(769) ELSE '' END ||
                     CASE WHEN doc_id % 3 = 0
                          THEN ' ' || chr(8491) || chr(4352) || chr(4449)
                          ELSE '' END AS t
              FROM documents WHERE text IS NOT NULL)
            SELECT doc_id, nfc_normalize(t) AS text_nfc,
                   CAST(CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END
                        AS INT) AS changed
            FROM built
        """,
        # r5 session-2 exact set-similarity join: the oracle is the NAIVE
        # brute-force token self-join (exact at oracle scale) — the
        # Spark side only ever joins PREFIX tokens, so a lossy prefix
        # (wrong length formula, wrong global order, df cap leak) drops
        # a pair and breaks the hash
        "jaccard_prefix": f"""
            WITH {_prefix_pairs_ctes()}
            SELECT doc_a, doc_b, intersection, union_sz FROM p
        """,
        # r5 session-3 Heaps curve: first-occurrence token table +
        # correlated conditional counts per cutoff
        "vocab_growth": """
            WITH toks AS (SELECT doc_id,
                                 unnest(string_split(text, ' ')) AS tok
                          FROM documents WHERE text IS NOT NULL),
            nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            firsts AS (SELECT tok, min(doc_id) AS first_doc
                       FROM nz GROUP BY tok),
            c(cutoff) AS (VALUES (125), (250), (500), (1000))
            SELECT CAST(cutoff AS BIGINT) AS cutoff,
                   CAST((SELECT count(*) FROM firsts
                         WHERE first_doc < cutoff) AS BIGINT) AS vocab,
                   CAST((SELECT count(*) FROM nz
                         WHERE doc_id < cutoff) AS BIGINT) AS tokens
            FROM c
        """,
        # r5 session-3 epoch shuffle: the oracle replays the md5
        # permutation + hash shard + within-shard rank — hex keys compare
        # identically as ASCII in both engines
        "epoch_shuffle": f"""
            WITH keyed AS (
              SELECT doc_id, md5('epoch0:' || doc_id) AS k,
                     {_hex_int_sql("md5('epoch0:' || doc_id)", 1, 8)} % 16
                         AS shard
              FROM documents)
            SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                   CAST(row_number() OVER (PARTITION BY shard
                                           ORDER BY k, doc_id) - 1
                        AS BIGINT) AS pos
            FROM keyed
        """,
        # r5 session-3 fixed-k per-group sample: md5-rank permutation,
        # rank kept so callers can tighten k without resampling
        "group_sample": """
            WITH r AS (
              SELECT doc_id, lang,
                     CAST(row_number() OVER (
                          PARTITION BY lang
                          ORDER BY md5('sample0:' || doc_id), doc_id)
                          AS BIGINT) AS rk
              FROM documents)
            SELECT doc_id, lang, rk FROM r WHERE rk <= 7
        """,
        # r5 session-3 hashed linear scorer: the oracle replays the full
        # hashing-trick pipeline — ASCII normalization, unigram+bigram
        # features, md5 bucket, md5-derived weight table, offset-trick
        # integer mean — so any drift in normalization, feature set, hash
        # or signed-mean arithmetic breaks the hash
        "hashed_linear_score": f"""
            WITH {_hls_ctes("documents")}
            SELECT doc_id, n_feats, score_micro, keep FROM hls
        """,
        # r5 session-3 exact edit-distance join: the oracle is the naive
        # length-banded levenshtein self-join — the Spark side only ever
        # joins ED-Join PREFIX q-grams, so any lossy filtering (prefix
        # length, gram order, count/length filters) breaks the hash
        "editdist_pairs": f"""
            WITH {_ED_CORPUS_CTES}
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
            FROM allr a JOIN allr b
              ON a.doc_id < b.doc_id
             AND length(b.t) BETWEEN length(a.t) - 1 AND length(a.t) + 1
            WHERE levenshtein(a.t, b.t) <= 1
        """,
        # editdist-family clustering: closure over the SAME brute-force
        # levenshtein pair set (shared corpus CTE), min-id components,
        # isolated strings label themselves
        "dedup_components_editdist": f"""
            WITH RECURSIVE {_ED_CORPUS_CTES},
            p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM allr a JOIN allr b
                    ON a.doc_id < b.doc_id
                   AND length(b.t) BETWEEN length(a.t) - 1
                                       AND length(a.t) + 1
                  WHERE levenshtein(a.t, b.t) <= 1),
            sym AS (SELECT doc_a AS a, doc_b AS b FROM p
                    UNION SELECT doc_b, doc_a FROM p),
            reach(srcn, dstn) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.srcn, s.b FROM reach r JOIN sym s ON r.dstn = s.a),
            comp AS (
              SELECT allr.doc_id,
                     CAST(LEAST(allr.doc_id,
                                COALESCE(m.mn, allr.doc_id))
                          AS BIGINT) AS component
              FROM allr
              LEFT JOIN (SELECT srcn, min(dstn) AS mn
                         FROM reach GROUP BY srcn) m
                ON m.srcn = allr.doc_id)
            SELECT doc_id, component FROM comp
        """,
        # r5 session-2 exact-edge dedup clustering: brute-force pairs →
        # symmetric+transitive closure → min-id components over the full
        # corpus (isolated docs label themselves)
        "dedup_components_prefix": f"""
            {_prefix_comp_ctes()}
            SELECT doc_id, component FROM comp
        """,
        # r5 session-3 dedup observability: cluster-size histogram over
        # the SAME closure (shared comp CTE) — size-1 rows count uniques
        "component_histogram": f"""
            {_prefix_comp_ctes()}
            SELECT size, CAST(count(*) AS BIGINT) AS n_components
            FROM (SELECT component, CAST(count(*) AS BIGINT) AS size
                  FROM comp GROUP BY component)
            GROUP BY size
        """,
        # r5 session-3 split-leakage audit: exact near-dup pairs that
        # CROSS the hash-bucket train/val/test split — the pairs CTE and
        # the split arithmetic are both shared definitions
        "split_leakage": f"""
            WITH {_prefix_pairs_ctes(3, 5)},
            sp AS (
              SELECT doc_a, doc_b,
                     {_hex_int_sql("md5(CAST(doc_a AS VARCHAR))", 1, 2)}
                         AS ha,
                     {_hex_int_sql("md5(CAST(doc_b AS VARCHAR))", 1, 2)}
                         AS hb
              FROM p)
            SELECT doc_a, doc_b,
                   CASE WHEN ha < 204 THEN 'train'
                        WHEN ha < 230 THEN 'val'
                        ELSE 'test' END AS split_a,
                   CASE WHEN hb < 204 THEN 'train'
                        WHEN hb < 230 THEN 'val'
                        ELSE 'test' END AS split_b
            FROM sp
            WHERE (CASE WHEN ha < 204 THEN 'train'
                        WHEN ha < 230 THEN 'val'
                        ELSE 'test' END)
               <> (CASE WHEN hb < 204 THEN 'train'
                        WHEN hb < 230 THEN 'val'
                        ELSE 'test' END)
        """,
        # r5 data-budget selection: the oracle runs the NAIVE global
        # running sum (fine at oracle scale) — any drift in the
        # histogram-threshold plan's greedy prefix breaks the hash
        "budget_select": """
            WITH b AS (SELECT doc_id,
                              (n_chars * 10)
                                // len(string_split(text, ' ')) AS score,
                              CAST(len(string_split(text, ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents WHERE text IS NOT NULL),
            r AS (SELECT doc_id, score, n_tokens,
                         sum(n_tokens) OVER (ORDER BY score DESC,
                             doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS run
                  FROM b)
            SELECT doc_id, CAST(score AS BIGINT) AS score, n_tokens
            FROM r WHERE run <= 20000
        """,
        # r5 crawl frontier: predicted links from the builder (the
        # host_anchor_terms convention), every 10th doc's %37 host seen,
        # k%5==0 hosts robots-blocked on the exact /x path
        "crawl_frontier": """
            WITH t AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
            cand AS (
              SELECT doc_id AS src,
                     'https://h' || CAST((doc_id * 7 + 1) % 37 AS VARCHAR)
                       || '.example/x' AS url
              FROM t
              UNION
              SELECT doc_id,
                     'https://h' || CAST((doc_id * 7 + 2) % 37 AS VARCHAR)
                       || '.example/x'
              FROM t),
            counts AS (SELECT url, CAST(count(*) AS BIGINT) AS n_refs
                       FROM cand GROUP BY url),
            seen AS (SELECT DISTINCT
                            'https://h' || CAST(doc_id % 37 AS VARCHAR)
                              || '.example/x' AS url
                     FROM documents
                     WHERE doc_id % 10 = 0 AND doc_id < 100),
            new AS (SELECT * FROM counts
                    WHERE url NOT IN (SELECT url FROM seen)),
            k AS (SELECT url, n_refs,
                         CAST(regexp_extract(url, 'https://h([0-9]+)', 1)
                              AS BIGINT) AS kk
                  FROM new)
            SELECT url, 'h' || CAST(kk AS VARCHAR) || '.example' AS host,
                   n_refs
            FROM k WHERE kk % 5 <> 0
        """,
        # r5 recrawl dedup: packed-bigint argmax (ts*2^20 + id), Spark
        # div ≡ DuckDB // on the non-negative packed values
        "latest_snapshot": """
            WITH s AS (SELECT doc_id,
                              'u' || CAST(doc_id // 5 AS VARCHAR) AS key,
                              ((doc_id // 2) * 37) % 1000 AS ts
                       FROM documents),
            p AS (SELECT key, max(ts * 1048576 + doc_id) AS pk
                  FROM s GROUP BY key)
            SELECT key, CAST(pk % 1048576 AS BIGINT) AS doc_id,
                   CAST(pk // 1048576 AS BIGINT) AS ts
            FROM p
        """,
        # r5 session-3 outline extraction: every heading row + its dotted
        # section number predicted from the page grammar — three
        # interacting residues (%11 h1 skip, %3 second h2, %4 h3) make
        # h_idx and sec set-dependent
        "extract_headings": """
            WITH d AS (SELECT doc_id FROM documents
                       WHERE text IS NOT NULL)
            SELECT doc_id, CAST(0 AS INT) AS h_idx, CAST(1 AS INT) AS level,
                   '1' AS sec,
                   'title w' || CAST(doc_id % 7 AS VARCHAR) AS text
            FROM d WHERE doc_id % 11 <> 0
            UNION ALL
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END AS INT),
                   CAST(2 AS INT),
                   CASE WHEN doc_id % 11 = 0 THEN '0.1' ELSE '1.1' END,
                   'part one'
            FROM d
            UNION ALL
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 2 END AS INT),
                   CAST(2 AS INT),
                   CASE WHEN doc_id % 11 = 0 THEN '0.2' ELSE '1.2' END,
                   'part two'
            FROM d WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id,
                   CAST((CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END)
                        + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                        + 1 AS INT),
                   CAST(3 AS INT),
                   (CASE WHEN doc_id % 11 = 0 THEN '0.' ELSE '1.' END)
                   || (CASE WHEN doc_id % 3 = 0 THEN '2' ELSE '1' END)
                   || '.1',
                   'detail d' || CAST(doc_id % 5 AS VARCHAR)
            FROM d WHERE doc_id % 4 = 0
        """,
        # r5 session-3 outline stats: closed-form per-doc profile of the
        # same page grammar
        "heading_stats": """
            SELECT doc_id,
                   CAST((CASE WHEN doc_id % 11 <> 0 THEN 1 ELSE 0 END) + 1
                      + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_headings,
                   CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 2 END
                        AS INT) AS max_level,
                   CAST(CASE WHEN doc_id % 11 <> 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_top
            FROM documents WHERE text IS NOT NULL
        """,
        # r5 session-3 retention compaction: rank twin of the packed
        # argmax — ORDER BY ts DESC, doc_id DESC is exactly packed-DESC
        # order (id < 2^20), so the tie convention is shared
        "snapshot_retention": """
            WITH s AS (SELECT doc_id,
                              'u' || CAST(doc_id // 5 AS VARCHAR) AS key,
                              ((doc_id // 2) * 37) % 1000 AS ts
                       FROM documents),
            r AS (SELECT key, doc_id, CAST(ts AS BIGINT) AS ts,
                         CAST(row_number() OVER (PARTITION BY key
                              ORDER BY ts DESC, doc_id DESC)
                              AS BIGINT) AS rk
                  FROM s)
            SELECT key, doc_id, ts, rk FROM r WHERE rk <= 3
        """,
        # r5 extended Gopher gates: same planted pages, same integer
        # cross-multiplications; rule order in concat_ws matches the
        # Spark side exactly
        "gopher_rules": """
            WITH built AS (
              SELECT doc_id,
                CASE WHEN doc_id % 13 = 0
                     THEN '- item one' || chr(10) || '- item two'
                          || chr(10) || '- item three'
                     WHEN doc_id % 11 = 0
                     THEN 'first bit...' || chr(10) || 'second bit...'
                          || chr(10) || 'third thing...'
                     ELSE array_to_string(list_transform(
                         generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 6.0) AS INT) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '), i * 6 + 1, i * 6 + 6), ' ')
                              || CASE WHEN (doc_id + i) % 2 = 0 THEN '.' ELSE '' END),
                       chr(10))
                     || CASE WHEN doc_id % 5 = 0
                             THEN chr(10) || '##### ##### ##### ##### #####'
                             ELSE '' END
                     || CASE WHEN doc_id % 3 = 0
                             THEN chr(10) || 'to of and that it is'
                             ELSE '' END
                END AS text2
              FROM documents WHERE text IS NOT NULL),
            feats AS (SELECT doc_id,
              list_filter(string_split(replace(text2, chr(10), ' '), ' '),
                          w -> w <> '') AS words,
              list_filter(list_transform(string_split(text2, chr(10)),
                          x -> trim(x)), x -> x <> '') AS lines,
              length(text2) - length(replace(text2, '#', '')) AS n_hash,
              len(string_split(text2, '...')) - 1 AS n_ellipsis
              FROM built),
            m AS (SELECT doc_id,
              CAST(len(words) AS BIGINT) AS n_words,
              CAST(len(lines) AS BIGINT) AS n_lines,
              n_hash, n_ellipsis,
              len(list_filter(lines, x -> x LIKE '-%' OR x LIKE '*%'
                  OR x LIKE '•%')) AS n_bullet,
              len(list_filter(lines, x -> x LIKE '%...')) AS n_ell_end,
              len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                  AS n_alpha,
              len(list_intersect(list_distinct(words),
                  ['the','be','to','of','and','that','have','with']))
                  AS n_stop
              FROM feats),
            v AS (SELECT doc_id, n_words, n_lines,
              concat_ws(',',
                CASE WHEN (n_hash + n_ellipsis) * 100 > 10 * n_words
                     THEN 'symbol_heavy' END,
                CASE WHEN n_bullet * 100 > 90 * n_lines
                     THEN 'bullet_heavy' END,
                CASE WHEN n_ell_end * 100 > 30 * n_lines
                     THEN 'ellipsis_heavy' END,
                CASE WHEN n_alpha * 100 < 80 * n_words
                     THEN 'non_alpha_words' END,
                CASE WHEN n_stop < 2 THEN 'few_stopwords' END)
                AS violations
              FROM m)
            SELECT doc_id, n_words, n_lines, violations,
                   CAST(CASE WHEN violations = '' THEN 1 ELSE 0 END AS INT)
                       AS keep
            FROM v
        """,
        "ccnet_buckets": f"""
            WITH {_surprisal_cte('documents')},
            sc AS (SELECT s.doc_id, d.lang, s.mean_micronats
                   FROM surp s JOIN documents d USING (doc_id)),
            chist AS (SELECT lang, mean_micronats,
                             CAST(count(*) AS BIGINT) AS cnt
                      FROM sc GROUP BY 1, 2),
            ccum AS (SELECT lang, mean_micronats,
                            sum(cnt) OVER (PARTITION BY lang
                                ORDER BY mean_micronats
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                            sum(cnt) OVER (PARTITION BY lang) AS n
                     FROM chist),
            cuts AS (SELECT lang,
                            min(CASE WHEN cum >= (n + 2) // 3
                                     THEN mean_micronats END) AS t1,
                            min(CASE WHEN cum >= (2 * n + 2) // 3
                                     THEN mean_micronats END) AS t2
                     FROM ccum GROUP BY lang)
            SELECT sc.doc_id, sc.lang, sc.mean_micronats,
                   CASE WHEN sc.mean_micronats <= t1 THEN 'head'
                        WHEN sc.mean_micronats <= t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc JOIN cuts USING (lang)
        """,
        "robots_rules": """
            -- rules host is lower('H'||h||'.Example') — parse_robots
            -- normalizes the mixed-case fixture host; the grouped
            -- ('*' + otherbot) section contributes the /group rule
            WITH hs AS (SELECT DISTINCT CAST(doc_id % 7 AS VARCHAR) AS h
                        FROM documents)
            SELECT 'h' || h || '.example' AS host, allow, path_prefix
            FROM (
              SELECT h, CAST(0 AS INT) AS allow,
                     '/private' || h || '/' AS path_prefix FROM hs
              UNION ALL
              SELECT h, CAST(1 AS INT),
                     '/private' || h || '/ok/' FROM hs
              UNION ALL
              SELECT h, CAST(0 AS INT),
                     '/group' || h || '/' FROM hs)
        """,
        "robots_filter": """
            SELECT doc_id,
                   'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN '/private' || CAST(doc_id % 7 AS VARCHAR)
                                 || '/x'
                     WHEN 1 THEN '/private' || CAST(doc_id % 7 AS VARCHAR)
                                 || '/ok/y'
                     WHEN 2 THEN '/group' || CAST(doc_id % 7 AS VARCHAR)
                                 || '/z'
                     ELSE '/public/z' END AS path,
                   CAST(CASE WHEN doc_id % 4 IN (0, 2) THEN 0 ELSE 1 END
                        AS INT) AS allowed
            FROM documents
        """,
        "dsir_weights": f"""
            WITH {_DSIR_CTE}
            SELECT doc_id, n_tokens, logratio_micronats, mean_micronats
            FROM wts
        """,
        "dsir_topk": f"""
            WITH {_DSIR_CTE}
            SELECT doc_id, n_tokens, mean_micronats, rank FROM (
              SELECT doc_id, n_tokens, mean_micronats,
                     CAST(row_number() OVER (ORDER BY mean_micronats DESC,
                         doc_id ASC) AS INT) AS rank
              FROM wts)
            WHERE rank <= 50
        """,
        "host_anchor_terms": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents WHERE text IS NOT NULL),
            -- the two links per page predicted from the builder: hosts
            -- affine in doc_id, anchors = word slices (list_slice is
            -- END-INCLUSIVE: [1,2] and [3,4] are the 2-word slices Spark
            -- writes with F.slice(ws, 1, 2) / F.slice(ws, 3, 2))
            ln AS (
              SELECT 'h' || CAST((doc_id * 7 + 1) % 37 AS VARCHAR)
                       || '.example' AS host,
                     array_to_string(list_slice(ws, 1, 2), ' ') AS anchor
              FROM w
              UNION ALL
              SELECT 'h' || CAST((doc_id * 7 + 2) % 37 AS VARCHAR)
                       || '.example' AS host,
                     array_to_string(list_slice(ws, 3, 4), ' ') AS anchor
              FROM w),
            tok AS (SELECT host, unnest(string_split(anchor, ' ')) AS term
                    FROM ln),
            cnts AS (SELECT host, term, CAST(count(*) AS BIGINT) AS n
                     FROM tok WHERE term <> '' GROUP BY host, term),
            rk AS (SELECT host, term, n,
                          CAST(row_number() OVER (PARTITION BY host
                              ORDER BY n DESC, term ASC) AS INT) AS rank
                   FROM cnts)
            SELECT host, term, n, rank FROM rk WHERE rank <= 5
        """,
        "length_percentiles": """
            WITH hist AS (SELECT lang, CAST(n_chars AS BIGINT) AS len,
                                 CAST(count(*) AS BIGINT) AS cnt
                          FROM documents GROUP BY lang, len),
            cum AS (SELECT lang, len,
                           sum(cnt) OVER (PARTITION BY lang ORDER BY len
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum,
                           sum(cnt) OVER (PARTITION BY lang) AS n_docs
                    FROM hist)
            SELECT lang,
                   CAST(max(n_docs) AS BIGINT) AS n_docs,
                   CAST(min(CASE WHEN cum >= (50 * n_docs + 99) // 100
                                 THEN len END) AS BIGINT) AS p50_chars,
                   CAST(min(CASE WHEN cum >= (90 * n_docs + 99) // 100
                                 THEN len END) AS BIGINT) AS p90_chars,
                   CAST(min(CASE WHEN cum >= (99 * n_docs + 99) // 100
                                 THEN len END) AS BIGINT) AS p99_chars
            FROM cum GROUP BY lang
        """,
        "bigram_surprisal": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            gs AS (SELECT doc_id,
                          unnest(list_transform(
                              generate_series(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1])) AS g
                   FROM w WHERE len(ws) >= 2),
            dt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS n
                   FROM gs GROUP BY doc_id, g),
            big AS (SELECT g, CAST(sum(n) AS BIGINT) AS c2
                    FROM dt GROUP BY g),
            ctx AS (SELECT split_part(g, ' ', 1) AS w1,
                           CAST(sum(c2) AS BIGINT) AS c1
                    FROM big GROUP BY w1),
            tok AS (SELECT unnest(string_split(text, ' ')) AS w2
                    FROM documents),
            uni AS (SELECT w2, CAST(count(*) AS BIGINT) AS cu
                    FROM tok GROUP BY w2),
            tt AS (SELECT CAST(sum(cu) AS BIGINT) AS tt FROM uni),
            -- p parenthesized EXACTLY as the Spark side: (λ/100)*(c2/c1)
            -- + ((100-λ)/100)*(cu/tt); +,*,/ are IEEE-exact, only ln()
            -- carries the documented 1-ulp residual
            sc AS (SELECT dt.doc_id, dt.n,
                          CAST(floor(-ln(
                              (CAST(90 AS DOUBLE) / CAST(100 AS DOUBLE))
                              * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
                            + (CAST(10 AS DOUBLE) / CAST(100 AS DOUBLE))
                              * (CAST(cu AS DOUBLE) / CAST(tt AS DOUBLE))
                          ) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS micro
                   FROM dt
                   JOIN big USING (g)
                   JOIN ctx ON ctx.w1 = split_part(dt.g, ' ', 1)
                   JOIN uni ON uni.w2 = split_part(dt.g, ' ', 2)
                   CROSS JOIN tt)
            SELECT doc_id,
                   CAST(sum(n) AS BIGINT) AS n_bigrams,
                   CAST(sum(n * micro) AS BIGINT) AS surprisal_micronats,
                   CAST(sum(n * micro) // sum(n) AS BIGINT) AS mean_micronats
            FROM sc GROUP BY doc_id
        """,
        "decontaminate_fraction": f"""
            WITH {_SHINGLE_CTE},
            bset AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
            fr AS (SELECT sh.doc_id,
                          CAST(count(*) AS BIGINT) AS n_grams,
                          CAST(sum(CASE WHEN b.shingle IS NOT NULL
                                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                   FROM sh LEFT JOIN bset b USING (shingle)
                   GROUP BY sh.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(fr.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(fr.n_hit, 0) AS BIGINT) AS n_hit,
                   CAST(CASE WHEN coalesce(fr.n_grams, 0) = 0 THEN 0
                             WHEN coalesce(fr.n_hit, 0) * 100
                                  >= coalesce(fr.n_grams, 0) * 10 THEN 1
                             ELSE 0 END AS INT) AS contaminated
            FROM documents d LEFT JOIN fr USING (doc_id)
        """,
        "host_rebalance": f"""
            WITH hb AS (SELECT doc_id,
                               'host' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0
                                              ELSE doc_id % 37 END AS VARCHAR)
                               || '.example.com' AS host
                        FROM documents),
            hc AS (SELECT host, CAST(count(*) AS BIGINT) AS host_docs
                   FROM hb GROUP BY host)
            SELECT hb.doc_id, hb.host, hc.host_docs,
                   CAST(CASE WHEN
                       {_hex_int_sql("md5('hs:' || CAST(hb.doc_id AS VARCHAR))", 1, 5)}
                       < least(1048576, (5 * 1048576) // hc.host_docs)
                       THEN 1 ELSE 0 END AS INT) AS keep
            FROM hb JOIN hc USING (host)
        """,
        "kmeans_clusters": f"""
            WITH {_pq_train_ctes(m=1, k=8, iters=2, sublen=64)}
            SELECT vec_id, CAST(code AS INT) AS cluster FROM codes
        """,
        # Huygens inertia over the SAME trained assignment: per-cluster
        # per-dim component sums from the sq/codes chain, one floor-div
        # per cluster (div == // on non-negative operands)
        "kmeans_inertia": f"""
            WITH {_pq_train_ctes(m=1, k=8, iters=2, sublen=64)},
            dims AS (SELECT c.vec_id, CAST(c.code AS INT) AS cluster,
                            dd.d AS d, sq.subq[dd.d] AS val
                     FROM codes c
                     JOIN sq ON sq.vec_id = c.vec_id AND sq.s = c.s
                     CROSS JOIN (SELECT unnest(generate_series(1, 64))
                                 AS d) dd),
            pc AS (SELECT cluster, d,
                          CAST(sum(val) AS BIGINT) AS s_cd,
                          CAST(sum(val * val) AS BIGINT) AS ss_cd,
                          CAST(count(*) AS BIGINT) AS n_c
                   FROM dims GROUP BY cluster, d),
            cl AS (SELECT cluster,
                          CAST(max(n_c) AS BIGINT) AS n_vecs,
                          CAST(sum(ss_cd) AS BIGINT) AS ss_point,
                          CAST(sum(s_cd * s_cd) AS BIGINT) AS sumsq
                   FROM pc GROUP BY cluster)
            SELECT cluster, n_vecs, ss_point,
                   sumsq // n_vecs AS pull,
                   ss_point - sumsq // n_vecs AS ss_within,
                   ((sumsq // n_vecs) * 1000) // greatest(ss_point, 1)
                       AS cohesion_milli
            FROM cl
        """,
        "semantic_dedup": f"""
            WITH semsrc AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
              UNION ALL
              SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
              WHERE vec_id < 30),
            {_pq_train_ctes(m=1, k=8, iters=2, sublen=64, src="semsrc")},
            ce AS (SELECT c.vec_id, c.code AS cluster, e.embedding
                   FROM codes c JOIN semsrc e USING (vec_id)),
            clsz AS (SELECT cluster, count(*) AS csz FROM ce GROUP BY cluster),
            pe AS (SELECT ce.* FROM ce
                   JOIN (SELECT cluster FROM clsz WHERE csz <= 1000) sm
                   USING (cluster)),
            pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM pe a JOIN pe b
                     ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                   WHERE round(list_cosine_similarity(
                             CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])), 4)
                         >= CAST(0.9 AS DOUBLE)),
            dr AS (SELECT DISTINCT id_b AS vec_id FROM pr)
            SELECT c.vec_id, CAST(c.code AS INT) AS cluster,
                   CAST(CASE WHEN dr.vec_id IS NOT NULL THEN 0 ELSE 1 END
                        AS INT) AS keep
            FROM codes c LEFT JOIN dr USING (vec_id)
        """,
        "semantic_dedup_overflow": f"""
            WITH {_pq_train_ctes(m=1, k=8, iters=2, sublen=64)}
            SELECT CAST(code AS INT) AS cluster,
                   CAST(count(*) AS BIGINT) AS cluster_size
            FROM codes GROUP BY code HAVING count(*) > 60
        """,
        "bloom_decontaminate": f"""
            WITH {_gram_occ_cte()},
            rws AS (SELECT unnest(generate_series(0, 2)) AS r),
            bex AS (SELECT DISTINCT g FROM gs WHERE doc_id < 20),
            bpos AS (SELECT DISTINCT r,
                            {_hex_int_sql("md5(CAST(r AS VARCHAR) || ':' || g)", 1, 8)}
                            % 4096 AS col
                     FROM bex CROSS JOIN rws),
            pr AS (SELECT doc_id, g, r,
                          {_hex_int_sql("md5(CAST(r AS VARCHAR) || ':' || g)", 1, 8)}
                          % 4096 AS col
                   FROM gs CROSS JOIN rws),
            pos AS (SELECT doc_id, g
                    FROM pr JOIN bpos USING (r, col)
                    GROUP BY doc_id, g
                    HAVING count(DISTINCT r) = 3)
            SELECT doc_id,
                   CAST(count(DISTINCT g) AS BIGINT) AS bloom_hits,
                   CAST(count(DISTINCT CASE WHEN g IN (SELECT g FROM bex)
                        THEN g END) AS BIGINT) AS exact_hits
            FROM pos GROUP BY doc_id
        """,
        "bpe_merges": f"""
            WITH {_bpe_ctes(6)}
            SELECT step, lft AS "left", rgt AS "right", pair_count
            FROM (SELECT step, lft, rgt, pc AS pair_count FROM m1
                  UNION ALL SELECT step, lft, rgt, pc FROM m2
                  UNION ALL SELECT step, lft, rgt, pc FROM m3
                  UNION ALL SELECT step, lft, rgt, pc FROM m4
                  UNION ALL SELECT step, lft, rgt, pc FROM m5
                  UNION ALL SELECT step, lft, rgt, pc FROM m6)
        """,
        "bpe_token_counts": f"""
            WITH {_bpe_ctes(6)},
            pw AS (SELECT g,
                          CAST(length(s) - length(replace(s, chr(31), ''))
                               + 1 AS BIGINT) AS n_sub
                   FROM w6)
            SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_tokens_bpe
            FROM tok JOIN pw USING (g)
            GROUP BY doc_id
        """,
        # ------------------------------------------------------------------
        # r4 product quantization — fixed md5 codebooks, fold-order-exact
        # distances, fixed-subspace-order ADC sums
        # ------------------------------------------------------------------
        "pq_codes": f"""
            WITH {_pq_train_ctes()}
            SELECT vec_id, CAST(s AS INT) AS sub, CAST(code AS INT) AS code
            FROM codes
        """,
        "pq_topk": f"""
            WITH {_pq_train_ctes()},
            qsq AS (SELECT vec_id AS query_id, s, subq
                    FROM sq WHERE vec_id < 10),
            adc AS (SELECT query_id, s, cid AS code,
                           {_pq_fold_int("subq", "cen", 4)} AS pdist
                    FROM qsq JOIN cen2 USING (s)),
            coarse AS (SELECT query_id, codes.vec_id AS neighbor_id,
                              sum(pdist) AS adcd
                       FROM codes JOIN adc
                         ON adc.s = codes.s AND adc.code = codes.code
                       WHERE query_id <> codes.vec_id
                       GROUP BY query_id, codes.vec_id),
            short AS (SELECT query_id, neighbor_id FROM (
                        SELECT query_id, neighbor_id,
                               row_number() OVER (PARTITION BY query_id
                                   ORDER BY adcd ASC, neighbor_id ASC) AS srn
                        FROM coarse)
                      WHERE srn <= 50),
            ex AS (SELECT query_id, neighbor_id,
                          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(generate_series(1,
                                len(eq.embedding)), i ->
                              (CAST(eq.embedding[i] AS DOUBLE)
                               - CAST(en.embedding[i] AS DOUBLE))
                            * (CAST(eq.embedding[i] AS DOUBLE)
                               - CAST(en.embedding[i] AS DOUBLE)))),
                            (x, y) -> x + y) AS dist
                   FROM short
                   JOIN embeddings eq ON eq.vec_id = short.query_id
                   JOIN embeddings en ON en.vec_id = short.neighbor_id)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
                   round(dist, 4) AS pqdist
            FROM (
              SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY round(dist, 4) ASC, neighbor_id ASC)
                         AS rank
              FROM ex)
            WHERE rank <= 5
        """,
        "ivfpq_topk": f"""
            WITH {_pq_train_ctes()},
            {_ivf_coarse_ctes()},
            qsq AS (SELECT vec_id AS query_id, s, subq
                    FROM sq WHERE vec_id < 10),
            adc AS (SELECT query_id, s, cid AS code,
                           {_pq_fold_int("subq", "cen", 4)} AS pdist
                    FROM qsq JOIN cen2 USING (s)),
            coarse AS (SELECT a.query_id, codes.vec_id AS neighbor_id,
                              sum(pdist) AS adcd, count(*) AS m_joined
                       FROM codes
                       JOIN cand ON cand.vec_id = codes.vec_id
                       JOIN adc a ON a.query_id = cand.query_id
                                 AND a.s = codes.s AND a.code = codes.code
                       WHERE a.query_id <> codes.vec_id
                       GROUP BY a.query_id, codes.vec_id
                       HAVING count(*) = 16),
            short AS (SELECT query_id, neighbor_id FROM (
                        SELECT query_id, neighbor_id,
                               row_number() OVER (PARTITION BY query_id
                                   ORDER BY adcd ASC, neighbor_id ASC) AS srn
                        FROM coarse)
                      WHERE srn <= 50),
            ex AS (SELECT query_id, neighbor_id,
                          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(generate_series(1,
                                len(eq.embedding)), i ->
                              (CAST(eq.embedding[i] AS DOUBLE)
                               - CAST(en.embedding[i] AS DOUBLE))
                            * (CAST(eq.embedding[i] AS DOUBLE)
                               - CAST(en.embedding[i] AS DOUBLE)))),
                            (x, y) -> x + y) AS dist
                   FROM short
                   JOIN embeddings eq ON eq.vec_id = short.query_id
                   JOIN embeddings en ON en.vec_id = short.neighbor_id)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
                   round(dist, 4) AS pqdist
            FROM (
              SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY round(dist, 4) ASC, neighbor_id ASC)
                         AS rank
              FROM ex)
            WHERE rank <= 5
        """,
        # ------------------------------------------------------------------
        # r4 sketch family: md5-derived integer hashes end to end, so every
        # register / counter / rank is bit-exact cross-engine
        # ------------------------------------------------------------------
        "hll_registers": f"""
            WITH {_gram_occ_cte()},
            {_HLL_H_CTE}
            SELECT register, CAST(max(rho) AS BIGINT) AS max_rho
            FROM h GROUP BY register
        """,
        "hll_estimate": f"""
            WITH {_gram_occ_cte()},
            {_HLL_H_CTE},
            regs AS (SELECT register, max(rho) AS max_rho
                     FROM h GROUP BY register),
            f AS (SELECT count(*) AS n_filled,
                         CAST(sum(CAST(pow(2, 32 - max_rho) AS BIGINT))
                              AS BIGINT) AS s_filled
                  FROM regs),{_hll_est_tail_sql()}
        """,
        # per-group HLL: the group column rides through the gram stream
        # (oracle joins back to documents; same grouped max / estimate)
        "hll_by_lang": f"""
            WITH {_gram_occ_cte()},
            gl AS (SELECT d.lang AS lang, gs.g AS g
                   FROM gs JOIN documents d USING (doc_id)),
            {_hll_h_cte(src="gl", extra="lang")},
            regs AS (SELECT lang, register, max(rho) AS max_rho
                     FROM h GROUP BY lang, register),
            f AS (SELECT lang, count(*) AS n_filled,
                         CAST(sum(CAST(pow(2, 32 - max_rho) AS BIGINT))
                              AS BIGINT) AS s_filled
                  FROM regs GROUP BY lang),{_hll_est_tail_sql("lang, ")}
        """,
        "cms_topk": f"""
            WITH {_gram_occ_cte(n=1)},
            rws AS (SELECT unnest(generate_series(0, 3)) AS r),
            occ AS (SELECT g, r,
                           {_hex_int_sql("md5(CAST(r AS VARCHAR) || ':' || g)", 1, 8)}
                           % 512 AS col
                    FROM gs CROSS JOIN rws),
            sketch AS (SELECT r, col, count(*) AS cnt
                       FROM occ GROUP BY r, col),
            grams AS (SELECT g, count(*) AS true_cnt FROM gs GROUP BY g),
            probes AS (SELECT g, true_cnt, r,
                              {_hex_int_sql("md5(CAST(r AS VARCHAR) || ':' || g)", 1, 8)}
                              % 512 AS col
                       FROM grams CROSS JOIN rws),
            mn AS (SELECT g, true_cnt, min(cnt) AS est_min
                   FROM probes JOIN sketch USING (r, col)
                   GROUP BY g, true_cnt),
            rk AS (SELECT g AS gram, CAST(est_min AS BIGINT) AS est,
                          CAST(true_cnt AS BIGINT) AS true_cnt,
                          CAST(row_number() OVER (ORDER BY est_min DESC, g)
                               AS INT) AS rank
                   FROM mn)
            SELECT gram, est, true_cnt, rank FROM rk WHERE rank <= 20
        """,
        # the PDF builder places 'Document <id>' ABOVE the text but emits it
        # SECOND in the content stream — the expected text below is the
        # layout-reassembled reading order, not stream order
        "pdf_extract_roundtrip": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'Document ' || CAST(doc_id AS VARCHAR) || chr(10) || text
                     AS text,
                   CAST(1 AS INTEGER) AS n_pages,
                   CAST(5 AS INTEGER) AS n_objects,
                   'ok' AS status
            FROM documents
            WHERE regexp_matches(text, '^[A-Za-z0-9_ ]+$')
        """,
        # bucket = first byte of md5('sample:' || doc_id); thresholds are
        # round(frac*256): en 128, ja 64, default 192
        "stratified_sample": """
            WITH b AS (
              SELECT doc_id, lang,
                     (strpos('0123456789abcdef',
                        substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef',
                        substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                         AS bucket
              FROM documents)
            SELECT doc_id, lang, CAST(bucket AS INT) AS sample_bucket
            FROM b
            WHERE bucket < CASE lang WHEN 'en' THEN 128
                                     WHEN 'ja' THEN 64
                                     ELSE 192 END
        """,
        "domain_stats": """
            SELECT 'host' || CAST(doc_id % 37 AS VARCHAR) || '.example.com'
                     AS host,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
            FROM documents
            GROUP BY host
        """,
        # same oracle as extract_roundtrip — the WARC container round-trips
        # the html bytes verbatim, so the extraction result is identical
        "warc_extract_roundtrip": f"""
            SELECT doc_id, trim(text) AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_roundtrip": f"""
            SELECT doc_id, trim(text) AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        # same corpus/oracle as extract_roundtrip, but the Spark side goes
        # through run_extraction's write→lineage→read_committed protocol
        # with planted orphan rows and a forced resume — any commit-protocol
        # drift (orphans leak, resume re-appends) breaks rows/hash
        "extract_committed": f"""
            SELECT doc_id, trim(text) AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_boilerplate": f"""
            SELECT doc_id, trim(text) AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_block_select2": f"""
            SELECT doc_id, trim(text) AS main_text,
                   CAST(floor(
                     length(regexp_replace(text,
                       '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g'))
                     / 4.0 + 0.5) AS INT) AS threshold
            FROM documents
            WHERE {_ELIGIBLE_SQL}
              AND length(regexp_replace(text,
                    '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g')) >= 26
        """,
        "extract_block_select3": f"""
            SELECT doc_id, trim(text) AS main_text,
                   CAST(floor(
                     length(regexp_replace(text,
                       '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g'))
                     / 4.0 + 0.5) AS INT) AS threshold
            FROM documents
            WHERE {_ELIGIBLE_SQL}
              AND length(regexp_replace(text,
                    '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g')) >= 34
        """,
        "extract_spans_roundtrip": f"""
            SELECT doc_id,
                   CAST(1 AS INT) AS n_spans,
                   CAST(length(trim(text)) + 1 AS INT) AS span_chars,
                   CAST(1 AS INT) AS first_start_line,
                   CAST(2 AS INT) AS first_end_line,
                   CAST(greatest(5, floor(
                     length(regexp_replace(text,
                       '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g'))
                     / 4.0 + 0.5)) AS INT) AS threshold
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_spans_multiblock": f"""
            SELECT doc_id,
                   CAST(2 AS INT) AS n_spans,
                   CAST(0 AS INT) AS s1_char_start,
                   CAST(length(trim(text)) + 1 AS INT) AS s1_char_end,
                   CAST(length(trim(text)) + 1 AS INT) AS s2_char_start,
                   CAST(2 * (length(trim(text)) + 1) AS INT) AS s2_char_end,
                   CAST(1 AS INT) AS s1_start_line,
                   CAST(6 AS INT) AS s2_start_line,
                   CAST(greatest(5, floor(
                     length(regexp_replace(text,
                       '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g'))
                     / 4.0 + 0.5)) AS INT) AS threshold
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_keywords": f"""
            SELECT doc_id,
                   list_aggregate(
                     list_transform(
                       list_filter(string_split(trim(text), ' '),
                         w -> length(w) > 1
                              AND NOT regexp_matches(w, '^[0-9]+$')),
                       w -> w || ','),
                     'string_agg', '') AS keyword_list
            FROM documents
            WHERE {_ELIGIBLE_SQL}
              AND regexp_matches(text, '^[A-Za-z0-9_ ]*$')
        """,
        "extract_debug_density": f"""
            SELECT doc_id, CAST(line_idx AS INT) AS line_idx,
                   CAST(CASE WHEN line_idx <= 1 THEN
                     floor(length(regexp_replace(text,
                       '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g'))
                       / 4.0 + 0.5)
                   ELSE 0 END AS BIGINT) AS density
            FROM documents,
                 -- 9 padded lines (T6 close pad + T9 tail pad) → 6 windows
                 (SELECT unnest(generate_series(0, 5)) AS line_idx) _i
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_br_runs": f"""
            SELECT doc_id,
                   substr(text, 1, instr(text, ' ') - 1) || chr(10)
                       || trim(substr(text, instr(text, ' ') + 1)) AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
              AND instr(text, ' ') >= 2
              AND length(regexp_replace(substr(text, 1, instr(text, ' ') - 1),
                    '{_KEEP_NEG}', '', 'g')) >= 1
              AND length(regexp_replace(substr(text, instr(text, ' ') + 1),
                    '{_KEEP_NEG}', '', 'g')) >= 1
        """,
        "extract_entities": f"""
            SELECT doc_id, trim(text || '{_ENT_TEXT}') AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_sjis_detect": f"""
            SELECT doc_id, trim(text || '{_JP_SUFFIX}') AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL} AND regexp_matches(text, '{_ASCII_RE}')
        """,
        "extract_iso2022jp": f"""
            SELECT doc_id, trim(text || '{_JP_SUFFIX}') AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL} AND regexp_matches(text, '{_ASCII_RE}')
        """,
        "extract_utf16_roundtrip": f"""
            SELECT doc_id, trim(text || '{_JP_SUFFIX}') AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
        """,
        "extract_title_meta": f"""
            SELECT doc_id,
                   substr(text, 1, instr(text, ' ') - 1) AS title,
                   'about ' || substr(text, 1, instr(text, ' ') - 1)
                       AS description,
                   'k1,k2,k3' AS keywords,
                   trim(text) AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
              AND regexp_matches(text, '^[A-Za-z0-9_ ]*$')
              AND instr(text, ' ') >= 2
        """,
        "extract_debug_blocks": f"""
            SELECT doc_id,
                   CAST(1 AS INT) AS start_line, CAST(2 AS INT) AS end_line,
                   CAST(floor(kept / 4.0 + 0.5) AS INT) AS block_max,
                   CAST(kept AS INT) AS block_sum,
                   CAST(greatest(5, floor(kept / 4.0 + 0.5)) AS INT)
                       AS threshold
            FROM (
              SELECT doc_id,
                     length(regexp_replace(text,
                       '[^a-zA-Z0-9_０-９Ａ-Ｚａ-ｚ一-鿿぀-ゟ゠-ヿ]', '', 'g'))
                       AS kept
              FROM documents
              WHERE {_ELIGIBLE_SQL})
        """,
        "extract_gauntlet": f"""
            SELECT doc_id,
                   substr(text, 1, instr(text, ' ') - 1) || chr(10)
                     || ltrim(substr(text, instr(text, ' ') + 1))
                     || '{_ENT_TEXT}' || '{_JP_SUFFIX}' AS main_text
            FROM documents
            WHERE {_ELIGIBLE_SQL}
              AND regexp_matches(text, '{_ASCII_RE}')
              AND instr(text, ' ') >= 2
              AND length(regexp_replace(substr(text, 1, instr(text, ' ') - 1),
                    '{_KEEP_NEG}', '', 'g')) >= 1
              AND length(regexp_replace(substr(text, instr(text, ' ') + 1),
                    '{_KEEP_NEG}', '', 'g')) >= 1
        """,
        "curation_pipeline": f"""
            WITH extracted AS (
              SELECT doc_id, trim(text) AS t FROM documents
              WHERE {_ELIGIBLE_SQL}),
            canonical AS (
              SELECT doc_id, t FROM (
                SELECT doc_id, t,
                       row_number() OVER (PARTITION BY md5(t)
                            ORDER BY doc_id) AS rnk
                FROM extracted)
              WHERE rnk = 1),
            scored AS (
              SELECT doc_id,
                round(length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) * 100.0
                      / (length(t) + 1), 4) AS alpha_pct,
                CAST(len(list_filter(string_split(t, ' '),
                     w -> w IN ('the','a','of','and','to'))) AS INT)
                     AS stopword_hits,
                CASE WHEN length(regexp_replace(t, '[^一-鿿぀-ゟ゠-ヿ가-힣]', '', 'g'))
                          > length(regexp_replace(t, '[^a-zA-Z]', '', 'g'))
                     THEN 'cjk' ELSE 'latin' END AS pred_lang
              FROM canonical)
            SELECT doc_id, pred_lang, alpha_pct, stopword_hits
            FROM scored WHERE alpha_pct >= 50.0
        """,
        "curation_full": f"""
            WITH scrubbed AS (
              -- extraction roundtrip + planted email redacted: the suffix
              -- is IDENTICAL post-scrub, so dedup groups match raw dedup
              SELECT doc_id,
                     trim(text) || ' contact <EMAIL> now' AS t,
                     CAST(1 AS INT) AS n_emails
              FROM documents WHERE {_ELIGIBLE_SQL}),
            canonical AS (
              SELECT doc_id, t, n_emails FROM (
                SELECT doc_id, t, n_emails,
                       row_number() OVER (PARTITION BY md5(t)
                            ORDER BY doc_id) AS rnk
                FROM scrubbed)
              WHERE rnk = 1),
            toks AS (SELECT doc_id, string_split(t, ' ') AS ws
                     FROM canonical),
            rep AS (
              SELECT c.doc_id,
                     CAST(len(ws) AS INT) AS n_tokens,
                     CAST((SELECT max(cnt) FROM (
                        SELECT count(*) AS cnt
                        FROM unnest(ws) AS u(g) GROUP BY g)) AS BIGINT)
                         AS max_unigram_count
              FROM canonical c JOIN toks USING (doc_id)),
            gated AS (
              SELECT c.doc_id, c.t, c.n_emails, r.n_tokens,
                     r.max_unigram_count
              FROM canonical c JOIN rep r USING (doc_id)
              WHERE r.max_unigram_count * 5 <= r.n_tokens),
            scored AS (
              SELECT doc_id, t, n_emails, n_tokens, max_unigram_count,
                round(length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) * 100.0
                      / (length(t) + 1), 4) AS alpha_pct,
                CASE WHEN length(regexp_replace(t, '[^一-鿿぀-ゟ゠-ヿ가-힣]', '', 'g'))
                          > length(regexp_replace(t, '[^a-zA-Z]', '', 'g'))
                     THEN 'cjk' ELSE 'latin' END AS pred_lang
              FROM gated),
            sp AS (
              SELECT doc_id,
                     (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                         AS bucket
              FROM scored)
            SELECT s.doc_id, s.pred_lang,
                   CASE WHEN sp.bucket < 204 THEN 'train'
                        WHEN sp.bucket < 230 THEN 'val'
                        ELSE 'test' END AS split,
                   s.alpha_pct, s.n_tokens, s.max_unigram_count, s.n_emails
            FROM scored s JOIN sp USING (doc_id)
            WHERE s.alpha_pct >= 50.0
        """,
        "docs_per_lang": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
        """,
        "doc_length_stats": """
            SELECT lang, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "token_counts": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS INT)
                       AS n_distinct_tokens
            FROM documents
        """,
        "token_counts_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS INT)
                       AS n_bpe_tokens,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens
            FROM documents
        """,
        "lang_id": """
            SELECT doc_id, cjk_chars, latin_chars,
                   CASE WHEN cjk_chars > latin_chars THEN 'cjk'
                        ELSE 'latin' END AS pred_lang
            FROM (
              SELECT doc_id,
                CAST(length(regexp_replace(text, '[^一-鿿぀-ゟ゠-ヿ가-힣]', '', 'g')) AS INT)
                    AS cjk_chars,
                CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT)
                    AS latin_chars
              FROM documents)
        """,
        "quality_scores": """
            SELECT doc_id,
                   round(alpha * 100.0 / (n + 1), 4) AS alpha_pct,
                   round((n - nt + 1) * 1.0 / nt, 4) AS mean_token_len,
                   CAST(sh AS INT) AS stopword_hits
            FROM (
              SELECT doc_id, length(text) AS n,
                length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
                len(string_split(text, ' ')) AS nt,
                len(list_filter(string_split(text, ' '),
                    w -> w IN ('the','a','of','and','to'))) AS sh
              FROM documents)
        """,
        "fingerprints": """
            SELECT doc_id, substr(md5(lower(trim(text))), 1, 16) AS fingerprint
            FROM documents
        """,
        "rolling_fingerprints": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                         w -> CAST((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(w), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(w), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(w), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(w), 8, 1)) - 1) * 1 AS BIGINT))),
                     (a, b) -> (a * 31 + b) % 1000000007
                   ) AS rolling_fp
            FROM documents
        """,
        "token_rarity": """
            WITH tok AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                    FROM tok GROUP BY tok)
            SELECT doc_id, CAST(sum(df) AS BIGINT) AS sum_df,
                   CAST(min(df) AS BIGINT) AS min_df,
                   CAST(count(*) AS BIGINT) AS n_distinct_tokens
            FROM tok JOIN dfc USING (tok)
            GROUP BY doc_id
        """,
        "dedup_exact": """
            SELECT doc_id, md5(text) AS content_hash,
                   CAST(row_number() OVER (PARTITION BY md5(text)
                        ORDER BY doc_id) AS INT) AS copy_rank,
                   CASE WHEN row_number() OVER (PARTITION BY md5(text)
                        ORDER BY doc_id) > 1 THEN 1 ELSE 0 END AS is_duplicate
            FROM documents
        """,
        "chunk_docs": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            st AS (SELECT doc_id, ws,
                          unnest(generate_series(1, greatest(len(ws) - 8, 1),
                                 56)) AS s
                   FROM w)
            SELECT doc_id,
                   CAST(floor((s - 1) / 56.0) AS INT) AS chunk_idx,
                   CAST(len(list_slice(ws, s, s + 63)) AS INT)
                       AS n_chunk_tokens,
                   array_to_string(list_slice(ws, s, s + 63), ' ')
                       AS chunk_text
            FROM st
        """,
        "repetition_signals": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            uni AS (SELECT doc_id, unnest(ws) AS g FROM w),
            bi AS (SELECT doc_id,
                          unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i+1])) AS g
                   FROM w WHERE len(ws) >= 2),
            tri AS (SELECT doc_id,
                           unnest(list_transform(generate_series(1, len(ws) - 2),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                              AS g
                    FROM w WHERE len(ws) >= 3),
            mu AS (SELECT doc_id, max(c) AS m FROM (
                     SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2)
                   GROUP BY doc_id),
            mb AS (SELECT doc_id, max(c) AS m FROM (
                     SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2)
                   GROUP BY doc_id),
            mt AS (SELECT doc_id, max(c) AS m FROM (
                     SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2)
                   GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
                   CAST(len(list_distinct(string_split(d.text, ' '))) AS INT)
                       AS n_distinct_tokens,
                   CAST(COALESCE(mu.m, 0) AS BIGINT) AS max_unigram_count,
                   CAST(COALESCE(mb.m, 0) AS BIGINT) AS max_bigram_count,
                   CAST(COALESCE(mt.m, 0) AS BIGINT) AS max_trigram_count
            FROM documents d
            LEFT JOIN mu ON mu.doc_id = d.doc_id
            LEFT JOIN mb ON mb.doc_id = d.doc_id
            LEFT JOIN mt ON mt.doc_id = d.doc_id
        """,
        "pii_scrub": """
            -- predicted-literal oracle: the scrubber must redact EXACTLY
            -- the injected email/phone/ip and leave the PII-free corpus
            -- text untouched
            SELECT doc_id,
                   text || ' contact <EMAIL> or <PHONE> ip <IP> tel <PHONE> end'
                       AS clean_text,
                   CAST(1 AS INT) AS n_emails,
                   CAST(1 AS INT) AS n_ips,
                   CAST(2 AS INT) AS n_phones
            FROM documents
        """,
        "substring_dedup": f"""
            WITH {_substr_runs_cte('documents', 4)}
            SELECT doc_id, run_start, n_grams, span_tokens FROM runs
        """,
        "substring_scrub": f"""
            WITH {_substr_runs_cte('documents', 4)},
            t AS (SELECT doc_id, s - 1 AS pos, ws[s] AS tok
                  FROM (SELECT doc_id, ws,
                               unnest(generate_series(1, len(ws))) AS s
                        FROM w)),
            cov AS (SELECT DISTINCT t.doc_id, t.pos
                    FROM t JOIN runs ON runs.doc_id = t.doc_id
                     AND t.pos >= runs.run_start
                     AND t.pos < runs.run_start + runs.span_tokens),
            kept AS (SELECT t.doc_id, t.pos, t.tok FROM t
                     WHERE NOT EXISTS (SELECT 1 FROM cov
                                       WHERE cov.doc_id = t.doc_id
                                         AND cov.pos = t.pos)),
            agg AS (SELECT doc_id,
                           string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                           CAST(count(*) AS BIGINT) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT w.doc_id,
                   COALESCE(agg.clean_text, '') AS clean_text,
                   CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept_tokens,
                   CAST(len(w.ws) - COALESCE(agg.n_kept, 0) AS BIGINT)
                       AS n_removed_tokens
            FROM w LEFT JOIN agg USING (doc_id)
        """,
        "chunk_hash_dedup": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            st AS (SELECT doc_id, ws,
                          unnest(generate_series(1, len(ws), 32)) AS s
                   FROM w),
            hashed AS (
              SELECT doc_id,
                     CAST(floor((s - 1) / 32.0) AS INT) AS chunk_idx,
                     md5(array_to_string(list_slice(ws, s, s + 31), ' '))
                         AS chunk_hash
              FROM st),
            freq AS (SELECT chunk_hash, count(*) AS n FROM hashed
                     GROUP BY chunk_hash)
            SELECT h.doc_id, h.chunk_idx, h.chunk_hash,
                   CAST(CASE WHEN f.n > 1 THEN 1 ELSE 0 END AS INT)
                       AS is_dup_chunk
            FROM hashed h JOIN freq f USING (chunk_hash)
        """,
        "canonicalize_urls": """
            -- predicted-literal oracle: the canonicalizer must produce
            -- exactly this for the synthesized messy url
            SELECT doc_id,
                   'https://example' || CAST(doc_id % 50 AS VARCHAR) ||
                   '.com/Path/' || CAST(doc_id AS VARCHAR) ||
                   '?id=' || CAST(doc_id AS VARCHAR) AS canonical_url
            FROM documents
        """,
        "mixture_weights": """
            WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                       FROM documents GROUP BY lang),
            q AS (SELECT lang, n_docs,
                         CAST(round(sqrt(n_docs) * 10000) AS BIGINT) AS w_q
                  FROM c)
            SELECT lang, n_docs,
                   round(w_q / (SELECT CAST(sum(w_q) AS DOUBLE) FROM q), 6)
                       AS weight
            FROM q
        """,
        "decontaminate": f"""
            WITH {_SHINGLE_CTE},
            bsh AS (SELECT doc_id AS bench_id, shingle FROM sh
                    WHERE doc_id < 20)
            SELECT c.doc_id, b.bench_id,
                   CAST(count(*) AS BIGINT) AS overlap
            FROM sh c JOIN bsh b USING (shingle)
            GROUP BY c.doc_id, b.bench_id
            HAVING count(*) >= 2
        """,
        "pack_sequences": f"""
            WITH {_pack_cte()}
            SELECT doc_id, pack_group, n_tokens, bin_id FROM packed
        """,
        # scorecard of the shipped packing: per-stream lower bounds,
        # fill rate as one integer ratio over the final sums
        "packing_eval": f"""
            WITH {_pack_cte()},
            bins AS (SELECT pack_group, bin_id,
                            CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
                            CAST(count(*) AS BIGINT) AS bin_docs
                     FROM packed GROUP BY pack_group, bin_id),
            streams AS (SELECT pack_group,
                               CAST(sum(bin_docs) AS BIGINT) AS g_docs,
                               CAST(count(*) AS BIGINT) AS g_bins,
                               CAST(sum(bin_tokens) AS BIGINT) AS g_tokens,
                               CAST(max(bin_tokens) AS BIGINT) AS g_max_bin
                        FROM bins GROUP BY pack_group)
            SELECT CAST(sum(g_docs) AS BIGINT) AS n_docs,
                   CAST(sum(g_bins) AS BIGINT) AS n_bins,
                   CAST(sum(g_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum((g_tokens + 255) // 256) AS BIGINT) AS lb_bins,
                   CAST(sum(g_bins) - sum((g_tokens + 255) // 256)
                        AS BIGINT) AS bin_delta,
                   (CAST(sum(g_tokens) AS BIGINT) * 1000)
                       // (CAST(sum(g_bins) AS BIGINT) * 256) AS fill_milli,
                   CAST(max(g_max_bin) AS BIGINT) AS max_bin_tokens
            FROM streams
        """,
        # PSI per source vs corpus length buckets: smoothed integer
        # cross-ratio under one ln, micro-floors before the sum
        "psi_drift": """
            WITH b AS (SELECT source,
                              least(n_chars // 64, 9) AS bucket
                       FROM documents),
            cells AS (SELECT source, bucket,
                             CAST(count(*) AS BIGINT) AS c
                      FROM b GROUP BY source, bucket),
            grp AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g
                    FROM documents GROUP BY source),
            refc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_ref_raw
                     FROM b GROUP BY bucket),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot
                    FROM documents),
            bk AS (SELECT unnest(generate_series(0, 9)) AS bucket),
            ref AS (SELECT bk.bucket,
                           COALESCE(refc.c_ref_raw, 0) AS c_ref, n_tot
                    FROM bk LEFT JOIN refc ON bk.bucket = refc.bucket
                    CROSS JOIN tot),
            grid AS (SELECT g.source, g.n_g, bk.bucket
                     FROM grp g CROSS JOIN bk),
            filled AS (SELECT grid.source, grid.bucket, grid.n_g,
                              COALESCE(cells.c, 0) AS c,
                              ref.c_ref, ref.n_tot
                       FROM grid
                       LEFT JOIN cells ON grid.source = cells.source
                                      AND grid.bucket = cells.bucket
                       JOIN ref ON grid.bucket = ref.bucket),
            terms AS (SELECT source, n_g,
                             CAST(floor((CAST((c + 1) AS DOUBLE)
                                         / CAST((n_g + 10) AS DOUBLE)
                                       - CAST((c_ref + 1) AS DOUBLE)
                                         / CAST((n_tot + 10) AS DOUBLE))
                                  * ln((CAST((c + 1) AS DOUBLE)
                                        * CAST((n_tot + 10) AS DOUBLE))
                                     / (CAST((c_ref + 1) AS DOUBLE)
                                        * CAST((n_g + 10) AS DOUBLE)))
                                  * CAST(1000000 AS DOUBLE)) AS BIGINT)
                                 AS t
                      FROM filled),
            agg AS (SELECT source,
                           CAST(max(n_g) AS BIGINT) AS n_docs,
                           CAST(sum(t) AS BIGINT) AS psi_micro
                    FROM terms GROUP BY source)
            SELECT source, n_docs, psi_micro,
                   CASE WHEN psi_micro < 100000 THEN 'stable'
                        WHEN psi_micro < 250000 THEN 'moderate'
                        ELSE 'drifted' END AS verdict
            FROM agg
        """,
        # train-even / score-odd add-one unigram LM: per-type micro-nat
        # floors multiplied by integer heldout counts AFTER the floor
        "lm_heldout_ppl": """
            WITH tk AS (SELECT doc_id, lang,
                               unnest(string_split(text, ' ')) AS tok
                        FROM documents),
            tr AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
                   FROM tk WHERE doc_id % 2 = 0 GROUP BY lang, tok),
            st AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_train,
                          CAST(count(*) AS BIGINT) AS v
                   FROM tr GROUP BY lang),
            hd AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS m
                   FROM tk WHERE doc_id % 2 = 1 GROUP BY lang, tok),
            j AS (SELECT h.lang, h.m, COALESCE(t.c, 0) AS c,
                         CASE WHEN t.c IS NULL THEN h.m ELSE 0 END AS oov
                  FROM hd h LEFT JOIN tr t
                    ON h.lang = t.lang AND h.tok = t.tok),
            terms AS (SELECT j.lang, j.m, j.oov, s.n_train, s.v,
                             j.m * CAST(floor(
                                 ln(CAST((s.n_train + s.v + 1) AS DOUBLE)
                                  / CAST((j.c + 1) AS DOUBLE))
                                 * CAST(1000000 AS DOUBLE)) AS BIGINT)
                                 AS t
                      FROM j JOIN st s ON j.lang = s.lang)
            SELECT lang,
                   CAST(max(n_train) AS BIGINT) AS n_train_tokens,
                   CAST(max(v) AS BIGINT) AS vocab,
                   CAST(sum(m) AS BIGINT) AS n_heldout_tokens,
                   CAST(sum(oov) AS BIGINT) AS oov_tokens,
                   CAST(sum(t) AS BIGINT) // CAST(sum(m) AS BIGINT)
                       AS ce_micro
            FROM terms GROUP BY lang
        """,
        # mergeable power sums over whole currency units; integer
        # mean/var readouts with the pre-divided variance divisor
        "moments_sketch": """
            WITH u AS (SELECT event_type,
                              CAST(round(value * 100) AS BIGINT) // 100
                                  AS v
                       FROM events),
            s AS (SELECT event_type,
                         CAST(count(*) AS BIGINT) AS s0,
                         CAST(sum(v) AS BIGINT) AS s1,
                         CAST(sum(v * v) AS BIGINT) AS s2,
                         CAST(sum(v * v * v) AS BIGINT) AS s3,
                         CAST(sum(v * v * v * v) AS BIGINT) AS s4
                  FROM u GROUP BY event_type)
            SELECT event_type, s0, s1, s2, s3, s4,
                   (s1 * 1000) // s0 AS mean_milli,
                   (s0 * s2 - s1 * s1)
                       // greatest((s0 * s0) // 1000, 1) AS var_milli
            FROM s
        """,
        "winnowing_fingerprints": f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            g AS (
              SELECT doc_id, i - 1 AS pos,
                     ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
              FROM (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)),
            k AS (
              SELECT doc_id, pos,
                     ({_HV_GRAM_SQL}) * 2147483648 + pos AS key
              FROM g),
            win AS (
              SELECT doc_id,
                     min(key) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
                     count(*) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
              FROM k)
            SELECT DISTINCT doc_id,
                   CAST(wkey % 2147483648 AS INT) AS fp_pos,
                   CAST(wkey // 2147483648 AS BIGINT) AS fp_hash
            FROM win WHERE wn = 4
        """,
        "train_split_assign": f"""
            WITH {_split_cte('documents')}
            SELECT doc_id, split_bucket, split FROM spl
        """,
        "minhash_signatures": f"""
            WITH {_SHINGLE_CTE}
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS mh0,
                   min(md5('1:' || shingle)) AS mh1,
                   min(md5('2:' || shingle)) AS mh2,
                   min(md5('3:' || shingle)) AS mh3
            FROM sh GROUP BY doc_id
        """,
        "minhash_lsh_buckets": f"""
            WITH {_SHINGLE_CTE}, {_SIG_CTE},
            bands AS (
              SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig)
            SELECT band, bucket, CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS min_doc_id
            FROM bands GROUP BY band, bucket HAVING count(*) > 1
        """,
        "minhash_lsh_capped": f"""
            WITH {_SHINGLE_CTE}, {_SIG_CTE},
            bands AS (
              SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig)
            SELECT band, bucket, CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS min_doc_id
            FROM bands GROUP BY band, bucket
            HAVING count(*) > 1 AND count(*) <= 2
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_SHINGLE_CTE}, {_PAIR_INTER_CTES}
            SELECT doc_a, doc_b, intersection,
                   CAST(sa.sz + sb.sz - intersection AS BIGINT) AS union_sz
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
        """,
        # per-sentence language profile: sentence_split conventions
        # (chr(1) marker, trim, empties dropped) + the lang_id char
        # classes (A.CJK_CLASS interpolated — one definition); plants by
        # doc_id%4 (entry comment)
        "lang_profile": f"""
            WITH built AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 = 1 THEN text || '. 日本語 テキスト'
                     WHEN doc_id % 4 = 2
                       THEN text || '. 日本語 一. 日本語 二. 日本語 三'
                     WHEN doc_id % 4 = 3 THEN '日本語 テキスト 文章'
                     ELSE text END AS t
              FROM documents WHERE text IS NOT NULL),
            m AS (SELECT doc_id,
                         regexp_replace(t, '([.!?])[ \t\n\r]+',
                                        '\\1' || chr(1), 'g') AS t
                  FROM built),
            s AS (SELECT doc_id, trim(l[i]) AS sentence
                  FROM (SELECT doc_id, string_split(t, chr(1)) AS l,
                               unnest(generate_series(1,
                                   len(string_split(t, chr(1))))) AS i
                        FROM m)),
            cl AS (SELECT doc_id,
                     CASE WHEN length(regexp_replace(sentence,
                                 '[^{A.CJK_CLASS}]', '', 'g'))
                             > length(regexp_replace(sentence,
                                 '[^a-zA-Z]', '', 'g'))
                          THEN 1 ELSE 0 END AS is_cjk
                   FROM s WHERE sentence <> ''),
            a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents,
                         CAST(sum(is_cjk) AS BIGINT) AS n_cjk_sents
                  FROM cl GROUP BY doc_id)
            SELECT doc_id, n_sents, n_cjk_sents,
                   CAST(n_sents - n_cjk_sents AS BIGINT) AS n_latin_sents,
                   CASE WHEN 2 * n_cjk_sents > n_sents THEN 'cjk'
                        ELSE 'latin' END AS pred_lang,
                   CAST(CASE WHEN 5 * least(n_cjk_sents,
                                            n_sents - n_cjk_sents)
                                  >= n_sents
                             THEN 1 ELSE 0 END AS INT) AS is_mixed
            FROM a
        """,
        # url path-template mining: digit runs -> {n}; schemeless rows
        # keep host NULL; min_count=2 drops the planted %251 one-offs
        "url_templates": f"""
            WITH {_urlt_ctes()}
            SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls,
                   min(url) AS example_url
            FROM p GROUP BY host, template HAVING count(*) >= 2
        """,
        # containment: same core, filtered by den*inter >= num*min(sz);
        # source = documents + planted doc-in-doc rows (entry comment)
        "containment_pairs": f"""
            WITH src AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT a.doc_id + 1000000, a.text || ' ' || b.text
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
              WHERE a.doc_id % 17 = 0
            ), {_shingle_cte('src')}, {_PAIR_INTER_CTES}
            SELECT doc_a, doc_b, intersection,
                   sa.sz AS sz_a, sb.sz AS sz_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE 10 * intersection >= 7 * least(sa.sz, sb.sz)
        """,
        "simhash": f"""
            WITH {_simhash_cte()}
            SELECT doc_id, simhash FROM shash
        """,
        "simhash_neardup_pairs": f"""
            WITH {_simhash_cte()},
            kept AS (
              SELECT b.* FROM sbands b
              JOIN (SELECT band, bval FROM sbands
                    GROUP BY band, bval HAVING count(*) <= 100) ok
                USING (band, bval)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     a.simhash AS s1, b.simhash AS s2
              FROM kept a JOIN kept b
                ON a.band = b.band AND a.bval = b.bval
               AND a.doc_id < b.doc_id)
            SELECT doc_id_a, doc_id_b,
                   CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(s1, s2)) <= 3
        """,
        "simhash_overflow": f"""
            WITH {_simhash_cte()}
            SELECT band, bval, CAST(count(*) AS BIGINT) AS n_docs
            FROM sbands GROUP BY band, bval HAVING count(*) > 100
        """,
        "dedup_components_simhash": f"""
            WITH RECURSIVE {_simhash_cte()},
            kept AS (
              SELECT b.* FROM sbands b
              JOIN (SELECT band, bval FROM sbands
                    GROUP BY band, bval HAVING count(*) <= 100) ok
                USING (band, bval)),
            cand AS (
              SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb,
                     a.simhash AS s1, b.simhash AS s2
              FROM kept a JOIN kept b
                ON a.band = b.band AND a.bval = b.bval
               AND a.doc_id < b.doc_id),
            e AS (SELECT pa AS a, pb AS b FROM cand
                  WHERE bit_count(xor(s1, s2)) <= 3),
            sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
            reach(src, dst) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
            SELECT d.doc_id,
                   CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS BIGINT)
                       AS component
            FROM documents d
            LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
              ON m.src = d.doc_id
        """,
        # chi-square per-lang feature selection: integer contingency,
        # one identical-tree double per row floored to micro-units
        "chi2_terms": """
            WITH pres AS (
              SELECT DISTINCT doc_id, lang,
                     unnest(string_split(text, ' ')) AS term
              FROM documents),
            tl AS (SELECT term, lang, CAST(count(*) AS BIGINT) AS a
                   FROM pres GROUP BY 1, 2),
            dfc AS (SELECT term, CAST(sum(a) AS BIGINT) AS df
                    FROM tl GROUP BY 1),
            nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
                   FROM documents GROUP BY 1),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            base AS (
              SELECT tl.lang, tl.term, tl.a, dfc.df,
                     nl.n_lang - tl.a AS b,
                     dfc.df - tl.a AS c,
                     n.n - nl.n_lang - dfc.df + tl.a AS d,
                     n.n AS n
              FROM tl JOIN dfc USING (term) JOIN nl USING (lang), n
              WHERE dfc.df >= 5 AND dfc.df < n.n),
            scored AS (
              SELECT lang, term, a, df,
                     CAST(floor((CAST(n AS DOUBLE)
                          * CAST(a*d - b*c AS DOUBLE)
                          * CAST(a*d - b*c AS DOUBLE))
                          / (CAST((a+b)*(c+d) AS DOUBLE)
                             * CAST((a+c)*(b+d) AS DOUBLE))
                          * CAST(1000000 AS DOUBLE)) AS BIGINT)
                         AS chi2_micro
              FROM base)
            SELECT lang, term, a, df, chi2_micro,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                        PARTITION BY lang
                        ORDER BY chi2_micro DESC, term ASC) AS rank
                  FROM scored)
            WHERE rank <= 10
        """,
        # deterministic hash-guided walks: per step one join + packed
        # argmin (hv·2^32+dst, 7 md5 hex digits), cur = pack % 2^32 —
        # identical integer arithmetic on both engines
        "random_walks": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            {_walk_ctes(4)}
        """,
        # word2vec skip-gram pair counts, ±2 window, both directions —
        # pure integer counting, position self-join on the oracle side
        "skipgram_pairs": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(
                                   string_split(text, ' '), 1) AS pos
                        FROM documents)
            SELECT a.tok AS center, b.tok AS context,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM tk a JOIN tk b
              ON a.doc_id = b.doc_id AND a.pos <> b.pos
             AND abs(a.pos - b.pos) <= 2
            GROUP BY 1, 2 HAVING count(*) >= 5
        """,
        # a-priori basket pairs over distinct-token presence; support
        # prune + per-doc cap both active (MATERIALIZED stops DuckDB's
        # per-reference CTE re-expansion of the presence chain)
        "frequent_pairs": """
            WITH pres AS MATERIALIZED (
              SELECT DISTINCT doc_id,
                     unnest(string_split(text, ' ')) AS tok
              FROM documents),
            freq AS (SELECT tok FROM (
                       SELECT tok, count(*) AS df FROM pres GROUP BY tok)
                     WHERE df >= 100),
            pf AS MATERIALIZED (
              SELECT pres.doc_id, pres.tok
              FROM pres JOIN freq USING (tok)),
            ok AS (SELECT doc_id FROM (
                     SELECT doc_id, count(*) AS nf FROM pf GROUP BY doc_id)
                   WHERE nf <= 29),
            kept AS MATERIALIZED (
              SELECT pf.doc_id, pf.tok FROM pf JOIN ok USING (doc_id))
            SELECT a.tok AS tok_a, b.tok AS tok_b,
                   CAST(count(*) AS BIGINT) AS support
            FROM kept a JOIN kept b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2 HAVING count(*) >= 100
        """,
        # Gini of per-user activity per event_type: integer numerator
        # (non-negative for ascending ranks, so // == div), tie-stable
        # because a tied block occupies a fixed set of rank positions
        "gini_activity": """
            WITH c AS (SELECT event_type, user_id,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM events GROUP BY 1, 2),
            r AS (SELECT event_type, cnt,
                         CAST(row_number() OVER (
                              PARTITION BY event_type
                              ORDER BY cnt, user_id) AS BIGINT) AS i
                  FROM c),
            a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
                         CAST(sum(cnt) AS BIGINT) AS total_events,
                         CAST(sum(i * cnt) AS BIGINT) AS s1
                  FROM r GROUP BY 1)
            SELECT event_type, n_users, total_events,
                   CAST((2 * s1 - (n_users + 1) * total_events) * 1000000
                        // (n_users * total_events) AS BIGINT) AS gini_micro
            FROM a
        """,
        # CUSUM in closed form: prefix sum of (n_days*x - total) minus
        # its running min, flag at 2 mean-days; observed days only
        "cusum_anomaly": """
            WITH daily AS (SELECT event_type,
                     CAST(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day,
                     CAST(count(*) AS BIGINT) AS cnt
                   FROM events GROUP BY 1, 2),
            e AS (SELECT event_type, day, cnt,
                    CAST(sum(cnt) OVER (PARTITION BY event_type)
                         AS BIGINT) AS total,
                    CAST(count(*) OVER (PARTITION BY event_type)
                         AS BIGINT) AS n_days
                  FROM daily),
            s AS (SELECT event_type, day, cnt, total,
                    sum(n_days * cnt - total) OVER (
                        PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS p
                  FROM e),
            m AS (SELECT event_type, day, cnt, total, p,
                    min(p) OVER (PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS pmin
                  FROM s)
            SELECT event_type, day, cnt,
                   CAST((p - pmin) * 1000 // total AS BIGINT)
                       AS cusum_milli,
                   CAST(CASE WHEN (p - pmin) > 2 * total
                        THEN 1 ELSE 0 END AS INT) AS flagged
            FROM m
        """,
        # MI + marginal entropies: c*n and r*s formed as integers
        # before the single ln; negative cell terms floor identically
        "lang_source_mi": """
            WITH cells AS (SELECT lang, source,
                                  CAST(count(*) AS BIGINT) AS c
                           FROM documents GROUP BY 1, 2),
            lm AS (SELECT lang, CAST(sum(c) AS BIGINT) AS r
                   FROM cells GROUP BY lang),
            sm AS (SELECT source, CAST(sum(c) AS BIGINT) AS s
                   FROM cells GROUP BY source),
            nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
            mi AS (SELECT CAST(sum(
                     CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(CAST(c * n AS DOUBLE)
                               / CAST(r * s AS DOUBLE))
                          * CAST(1000000 AS DOUBLE)) AS BIGINT))
                     AS BIGINT) AS mi_micro
                   FROM cells JOIN lm USING (lang)
                              JOIN sm USING (source), nn),
            hl AS (SELECT CAST(count(*) AS BIGINT) AS n_langs,
                          CAST(sum(
                     CAST(floor((CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(CAST(n AS DOUBLE) / CAST(r AS DOUBLE))
                          * CAST(1000000 AS DOUBLE)) AS BIGINT))
                          AS BIGINT) AS h_lang_micro
                   FROM lm, nn),
            hs AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
                          CAST(sum(
                     CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
                          * CAST(1000000 AS DOUBLE)) AS BIGINT))
                          AS BIGINT) AS h_source_micro
                   FROM sm, nn)
            SELECT n AS n_docs, n_langs, n_sources,
                   h_lang_micro, h_source_micro, mi_micro
            FROM nn, hl, hs, mi
        """,
        # two baseline WAPEs, calendar-correct lag joins
        "forecast_baselines": """
            WITH daily AS (SELECT event_type,
                     CAST(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day,
                     CAST(count(*) AS BIGINT) AS cnt
                   FROM events GROUP BY 1, 2),
            s1 AS (SELECT a.event_type,
                     CAST(count(*) AS BIGINT) AS n_lag1,
                     CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS ae1,
                     CAST(sum(a.cnt) AS BIGINT) AS act1
                   FROM daily a JOIN daily b
                     ON a.event_type = b.event_type
                    AND a.day = b.day + 1
                   GROUP BY a.event_type),
            s7 AS (SELECT a.event_type,
                     CAST(count(*) AS BIGINT) AS n_lag7,
                     CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS ae7,
                     CAST(sum(a.cnt) AS BIGINT) AS act7
                   FROM daily a JOIN daily b
                     ON a.event_type = b.event_type
                    AND a.day = b.day + 7
                   GROUP BY a.event_type),
            ts AS (SELECT DISTINCT event_type FROM daily)
            SELECT ts.event_type,
                   CAST(coalesce(n_lag1, 0) AS BIGINT) AS n_lag1,
                   CAST(CASE WHEN act1 > 0 THEN ae1 * 1000 // act1
                        ELSE 0 END AS BIGINT) AS wape1_milli,
                   CAST(coalesce(n_lag7, 0) AS BIGINT) AS n_lag7,
                   CAST(CASE WHEN act7 > 0 THEN ae7 * 1000 // act7
                        ELSE 0 END AS BIGINT) AS wape7_milli
            FROM ts LEFT JOIN s1 USING (event_type)
                    LEFT JOIN s7 USING (event_type)
        """,
        # A/A harness: same arm hash, same z^2 float tree (every
        # constant CAST(int AS DOUBLE)), degenerate splits -> 0
        "ab_null_check": """
            WITH u AS (SELECT user_id,
                              CAST(max(CASE WHEN event_type = 'purchase'
                                   AND datediff('day', DATE '2024-01-01',
                                       CAST(ts AS DATE)) < 3
                                   THEN 1 ELSE 0 END) AS BIGINT) AS conv
                       FROM events GROUP BY user_id),
            a AS (SELECT user_id, conv,
                         CAST((strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 1 AS BIGINT) % 2 AS arm
                  FROM u),
            s AS (SELECT
                    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                    CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1
                         ELSE 0 END) AS BIGINT) AS conv_a,
                    CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1
                         ELSE 0 END) AS BIGINT) AS conv_b
                  FROM a)
            SELECT n_a, n_b, conv_a, conv_b,
                   CAST(CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0 ELSE CAST(floor((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / ((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))) * CAST(1000 AS DOUBLE)) AS BIGINT) END AS BIGINT) AS z2_milli
            FROM s
        """,
        # composed session-9 curation: sampler keep + quality gate +
        # fanout-cap verdict + source-focus entropy gate, digested
        "curation_v8": f"""
            WITH d1 AS MATERIALIZED (
              SELECT doc_id, text, lang, source FROM documents
              WHERE {_hex_int_sql(
                  "md5('ws0:' || CAST(doc_id AS VARCHAR))", 1, 8)} * 300
                    < CAST(least(n_chars, 300) AS BIGINT) * 4294967296),
            q AS ({_qf_cols_sql('d1')}),
            d2 AS (SELECT d1.doc_id, d1.lang, d1.text, d1.source
                   FROM d1 JOIN q ON q.doc_id = d1.doc_id
                   WHERE NOT {_QF_BAD_SQL}),
            pres AS MATERIALIZED (
              SELECT DISTINCT doc_id,
                     unnest(string_split(text, ' ')) AS tok
              FROM documents),
            freq AS (SELECT tok FROM (
                       SELECT tok, count(*) AS df FROM pres GROUP BY tok)
                     WHERE df >= 100),
            ov AS (SELECT doc_id FROM (
                     SELECT pres.doc_id, count(*) AS nf
                     FROM pres JOIN freq USING (tok)
                     GROUP BY pres.doc_id)
                   WHERE nf > 29),
            c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
                  FROM documents GROUP BY 1, 2),
            t AS (SELECT source, cnt,
                         CAST(sum(cnt) OVER (PARTITION BY source)
                              AS BIGINT) AS total
                  FROM c),
            ent AS (SELECT source,
                           CAST(sum(CAST(floor((CAST(cnt AS DOUBLE)
                                / CAST(total AS DOUBLE))
                                * ln(CAST(total AS DOUBLE)
                                     / CAST(cnt AS DOUBLE))
                                * CAST(1000000 AS DOUBLE)) AS BIGINT))
                                AS BIGINT) AS entropy_micro
                    FROM t GROUP BY source),
            focused AS (SELECT source FROM ent
                        WHERE entropy_micro <= 1450000),
            d4 AS (SELECT d2.* FROM d2
                   JOIN focused USING (source)
                   WHERE d2.doc_id NOT IN (SELECT doc_id FROM ov))
            SELECT lang AS grp, doc_id % 8 AS shard,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum({_hex_int_sql(
                       "md5(CAST(doc_id AS VARCHAR) || ':' || text)",
                       1, 10)}) AS BIGINT) AS content_sum
            FROM d4
            GROUP BY lang, doc_id % 8
        """,
        # Neyman N*sigma weights: radicand div-floored then the
        # w0/w1/w2 isqrt-correction chain (temperature_mix pattern)
        "neyman_allocation": """
            WITH a AS (SELECT lang AS grp,
                              CAST(count(*) AS BIGINT) AS n_docs,
                              CAST(sum(n_chars) AS BIGINT) AS s,
                              CAST(sum(n_chars * n_chars) AS BIGINT) AS q
                       FROM documents GROUP BY lang),
            v AS (SELECT grp, n_docs,
                         CASE WHEN n_docs < 2 THEN 0
                              ELSE (n_docs * (n_docs * q - s * s))
                                   // (n_docs - 1) END AS rad
                  FROM a),
            w0 AS (SELECT grp, n_docs, rad,
                          CAST(floor(sqrt(CAST(rad AS DOUBLE)))
                               AS BIGINT) AS y0
                   FROM v),
            w1 AS (SELECT grp, n_docs, rad,
                          y0 + CASE WHEN (y0 + 1) * (y0 + 1) <= rad
                                    THEN 1 ELSE 0 END AS y1
                   FROM w0),
            w2 AS (SELECT grp, n_docs,
                          y1 - CASE WHEN y1 * y1 > rad
                                    THEN 1 ELSE 0 END AS weight
                   FROM w1),
            t AS (SELECT CAST(sum(weight) AS BIGINT) AS total_w FROM w2)
            SELECT grp, n_docs, weight,
                   CAST(CASE WHEN total_w > 0
                        THEN 100 * weight // total_w
                        ELSE 0 END AS BIGINT) AS alloc
            FROM w2, t
        """,
        # bloom FPR calibration: same md5 cell family as the
        # bloom_decontaminate oracle, corpus-distinct shingle universe
        "bloom_eval": f"""
            WITH {_gram_occ_cte()},
            rws AS (SELECT unnest(generate_series(0, 2)) AS r),
            bex AS MATERIALIZED (
              SELECT DISTINCT g FROM gs WHERE doc_id < 20),
            bpos AS MATERIALIZED (
              SELECT DISTINCT r,
                     {_hex_int_sql(
                         "md5(CAST(r AS VARCHAR) || ':' || g)", 1, 8)}
                     % 4096 AS col
              FROM bex CROSS JOIN rws),
            pg AS MATERIALIZED (SELECT DISTINCT g FROM gs),
            pr AS (SELECT g, r,
                          {_hex_int_sql(
                              "md5(CAST(r AS VARCHAR) || ':' || g)", 1, 8)}
                          % 4096 AS col
                   FROM pg CROSS JOIN rws),
            pos AS (SELECT g FROM pr JOIN bpos USING (r, col)
                    GROUP BY g HAVING count(DISTINCT r) = 3),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n_probe FROM pg),
            m AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM pg
                  WHERE g IN (SELECT g FROM bex)),
            p AS (SELECT CAST(count(*) AS BIGINT) AS n_pos FROM pos),
            f AS (SELECT CAST(count(*) AS BIGINT) AS n_set FROM bpos)
            SELECT n_probe, n_members, n_pos,
                   CAST(n_pos - n_members AS BIGINT) AS n_fp,
                   CAST(CASE WHEN n_probe > n_members
                        THEN (n_pos - n_members) * 1000000
                             // (n_probe - n_members)
                        ELSE 0 END AS BIGINT) AS fpr_micro,
                   CAST(n_set * 1000 // 12288 AS BIGINT) AS fill_milli
            FROM a, m, p, f
        """,
        # Benford first-digit chi2: integer-cents decimal string,
        # shared micro-prob literals, identical per-cell float tree
        "benford_values": """
            WITH d0 AS (SELECT event_type,
                               CAST(round(value * 100) AS BIGINT) AS cents
                        FROM events),
            dg AS (SELECT event_type,
                          CAST(substr(CAST(cents AS VARCHAR), 1, 1)
                               AS BIGINT) AS digit
                   FROM d0 WHERE cents >= 1),
            obs AS (SELECT event_type, digit,
                           CAST(count(*) AS BIGINT) AS o_raw
                    FROM dg GROUP BY 1, 2),
            pd AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152), (9, 45757))
                   AS v(digit, p_micro)),
            grid AS (SELECT et.event_type, pd.digit, pd.p_micro,
                            coalesce(obs.o_raw, 0) AS o
                     FROM (SELECT DISTINCT event_type FROM events) et
                     CROSS JOIN pd
                     LEFT JOIN obs ON obs.event_type = et.event_type
                                  AND obs.digit = pd.digit),
            w AS (SELECT event_type, p_micro, o,
                         CAST(sum(o) OVER (PARTITION BY event_type)
                              AS BIGINT) AS t
                  FROM grid),
            m AS (SELECT event_type, t,
                         CAST(floor((CAST(o AS DOUBLE) - CAST(t AS DOUBLE) * CAST(p_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) * (CAST(o AS DOUBLE) - CAST(t AS DOUBLE) * CAST(p_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) / (CAST(t AS DOUBLE) * CAST(p_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) * CAST(1000 AS DOUBLE)) AS BIGINT) AS term_milli
                  FROM w WHERE t >= 1)
            SELECT event_type, CAST(max(t) AS BIGINT) AS n_values,
                   CAST(sum(term_milli) AS BIGINT) AS chi2_milli
            FROM m GROUP BY 1
        """,
        # rich-club density per degree cutoff over the shared fixture
        "rich_club": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            und AS (SELECT DISTINCT least(src, dst) AS lo,
                           greatest(src, dst) AS hi FROM e1),
            deg AS MATERIALIZED (
              SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT lo AS node FROM und UNION ALL SELECT hi FROM und)
              GROUP BY node),
            ks AS (SELECT unnest([5, 6, 8]) AS k),
            nk AS (SELECT k, CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0
                        END) AS BIGINT) AS n_nodes
                   FROM deg, ks GROUP BY k),
            ek AS (SELECT k, CAST(sum(CASE WHEN a.deg > k AND b.deg > k
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_edges
                   FROM und JOIN deg a ON a.node = und.lo
                            JOIN deg b ON b.node = und.hi, ks
                   GROUP BY k)
            SELECT CAST(nk.k AS BIGINT) AS k, n_nodes, n_edges,
                   CAST(CASE WHEN n_nodes >= 2 THEN n_edges * 2000
                        // (n_nodes * (n_nodes - 1)) ELSE 0 END
                        AS BIGINT) AS phi_milli
            FROM nk JOIN ek ON ek.k = nk.k
        """,
        # Fano + lag-1 ACF over scaled deviations dev = n*x - S
        # (sum exactly 0); sign peeled off before integer division
        "dispersion_report": """
            WITH daily AS (SELECT event_type,
                     CAST(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day,
                     CAST(count(*) AS BIGINT) AS cnt
                   FROM events GROUP BY 1, 2),
            e AS (SELECT event_type, day, cnt,
                    CAST(sum(cnt) OVER (PARTITION BY event_type)
                         AS BIGINT) AS s,
                    CAST(count(*) OVER (PARTITION BY event_type)
                         AS BIGINT) AS n
                  FROM daily),
            d AS (SELECT event_type, cnt, s, n,
                    n * cnt - s AS dev,
                    lag(n * cnt - s) OVER (PARTITION BY event_type
                        ORDER BY day) AS lagdev
                  FROM e),
            a AS (SELECT event_type,
                    CAST(max(n) AS BIGINT) AS n_days,
                    CAST(max(s) AS BIGINT) AS total_events,
                    CAST(sum(cnt * cnt) AS BIGINT) AS q,
                    CAST(coalesce(sum(dev * lagdev), 0) AS BIGINT) AS num,
                    CAST(sum(dev * dev) AS BIGINT) AS den
                  FROM d GROUP BY 1)
            SELECT event_type, n_days, total_events,
                   CAST(total_events * 1000 // n_days AS BIGINT)
                       AS mean_milli,
                   CAST(CASE WHEN n_days > 1
                        THEN (n_days * q - total_events * total_events)
                             * 1000 // (total_events * (n_days - 1))
                        ELSE 0 END AS BIGINT) AS fano_milli,
                   CAST(CASE WHEN den = 0 THEN 0
                        WHEN num >= 0 THEN (num * 1000) // den
                        ELSE -((-num * 1000) // den) END AS BIGINT)
                       AS acf1_milli
            FROM a
        """,
        # chi-square uniformity over the 7 weekday cells (absent cells
        # contribute total^2 each); division ordered last
        "weekday_profile": """
            WITH d AS (SELECT event_type,
                     ((CAST(datediff('day', DATE '2024-01-01',
                            CAST(ts AS DATE)) AS BIGINT) % 7) + 7) % 7
                         AS dow
                   FROM events),
            c AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS cnt
                  FROM d GROUP BY 1, 2),
            p AS (SELECT event_type, cnt,
                    CAST(sum(cnt) OVER (PARTITION BY event_type)
                         AS BIGINT) AS total
                  FROM c),
            a AS (SELECT event_type,
                    CAST(max(total) AS BIGINT) AS total_events,
                    CAST(count(*) AS BIGINT) AS n_dows,
                    CAST(sum((cnt * 7 - total) * (cnt * 7 - total))
                         AS BIGINT) AS obs_num
                  FROM p GROUP BY 1)
            SELECT event_type, total_events, n_dows,
                   CAST((obs_num + (7 - n_dows) * total_events
                         * total_events) * 1000000
                        // (7 * total_events) AS BIGINT) AS chi2_micro
            FROM a
        """,
        # DeepWalk pairs over the walk chain: MATERIALIZED walks CTE
        # self-joined on walk_id within ±2 steps
        "walk_skipgrams": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            {_walk_ctes(4, as_cte=True)}
            SELECT a.node AS center, b.node AS context,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM walks a JOIN walks b
              ON a.walk_id = b.walk_id AND a.step <> b.step
             AND abs(a.step - b.step) <= 2
            GROUP BY 1, 2
        """,
        # Poissonized bootstrap: shared integer thresholds interpolated
        # from analysis._POISSON1_CDF_U32, rank-based 10/90 interval
        # (lo rank 6, hi rank 59 at B=64)
        "bootstrap_ci": f"""
            WITH r AS (SELECT n_chars AS x,
                              CAST(doc_id AS VARCHAR) AS id,
                              unnest(generate_series(0, 63)) AS b
                       FROM documents),
            um AS (SELECT b, x, {_hex_int_sql(
                "md5('bs:' || CAST(b AS VARCHAR) || ':' || id)", 1, 8
            )} AS u FROM r),
            mm AS (SELECT b, x, ({" + ".join(
                f"CASE WHEN u >= {t} THEN 1 ELSE 0 END"
                for t in A._POISSON1_CDF_U32
            )}) AS m FROM um),
            per AS (SELECT b,
                           CAST(sum(m * x) * 1000 // sum(m) AS BIGINT)
                               AS mean_b
                    FROM mm GROUP BY b HAVING sum(m) > 0),
            rk AS (SELECT mean_b,
                          row_number() OVER (ORDER BY mean_b, b) AS rk
                   FROM per),
            bounds AS (SELECT
                         max(CASE WHEN rk = 6 THEN mean_b END) AS lo_milli,
                         max(CASE WHEN rk = 59 THEN mean_b END) AS hi_milli
                       FROM rk),
            base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(n_chars) * 1000 // count(*)
                                 AS BIGINT) AS mean_milli
                     FROM documents)
            SELECT n_docs, CAST(64 AS BIGINT) AS b_reps,
                   mean_milli, lo_milli, hi_milli
            FROM base, bounds
        """,
        # HT calibration of the shipped weighted sampler: same keep
        # predicate as the weighted_sample oracle, all-integer per-doc
        # contributions (short kept docs telescope to exactly 300000)
        "weighted_sample_eval": f"""
            WITH kept AS (
              SELECT n_chars FROM documents
              WHERE {_hex_int_sql(
                  "md5('ws0:' || CAST(doc_id AS VARCHAR))", 1, 8)} * 300
                    < CAST(least(n_chars, 300) AS BIGINT) * 4294967296),
            h AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
                         CAST(coalesce(sum((n_chars * 300 * 1000)
                              // least(n_chars, 300)), 0) AS BIGINT)
                             AS ht_est_milli
                  FROM kept),
            e AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(n_chars) AS BIGINT) AS exact_chars
                  FROM documents)
            SELECT n_docs, n_kept, exact_chars, ht_est_milli,
                   CAST(ht_est_milli // exact_chars AS BIGINT)
                       AS ratio_milli
            FROM e, h
        """,
        # per-source language entropy: identical float tree floored to
        # micro-nats per (source, lang) BEFORE the integer sum
        "lang_entropy_by_source": """
            WITH c AS (SELECT source, lang,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM documents GROUP BY 1, 2),
            t AS (SELECT source, cnt,
                         CAST(sum(cnt) OVER (PARTITION BY source)
                              AS BIGINT) AS total
                  FROM c),
            m AS (SELECT source, cnt, total,
                         CAST(floor((CAST(cnt AS DOUBLE)
                                     / CAST(total AS DOUBLE))
                              * ln(CAST(total AS DOUBLE)
                                   / CAST(cnt AS DOUBLE))
                              * CAST(1000000 AS DOUBLE)) AS BIGINT)
                             AS term_micro
                  FROM t)
            SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
                   CAST(max(total) AS BIGINT) AS n_docs,
                   CAST(sum(term_micro) AS BIGINT) AS entropy_micro
            FROM m GROUP BY source
        """,
        # per-lang HHI across sources, ordered integer division
        "hhi_sources": """
            WITH c AS (SELECT lang, source,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM documents GROUP BY 1, 2),
            a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
                         CAST(sum(cnt) AS BIGINT) AS total_docs,
                         CAST(sum(cnt * cnt) AS BIGINT) AS sq,
                         CAST(max(cnt) AS BIGINT) AS mx
                  FROM c GROUP BY 1)
            SELECT lang, n_sources, total_docs,
                   CAST(sq * 1000000 // total_docs // total_docs
                        AS BIGINT) AS hhi_micro,
                   CAST(mx * 1000000 // total_docs AS BIGINT)
                       AS top_share_micro
            FROM a
        """,
        "frequent_pairs_overflow": """
            WITH pres AS MATERIALIZED (
              SELECT DISTINCT doc_id,
                     unnest(string_split(text, ' ')) AS tok
              FROM documents),
            freq AS (SELECT tok FROM (
                       SELECT tok, count(*) AS df FROM pres GROUP BY tok)
                     WHERE df >= 100),
            pf AS (SELECT pres.doc_id, pres.tok
                   FROM pres JOIN freq USING (tok))
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_freq
            FROM pf GROUP BY doc_id HAVING count(*) > 29
        """,
        "tfidf_top_terms": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM tok GROUP BY 1, 2),
            dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY 1),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            ranked AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
                     CAST(row_number() OVER (
                          PARTITION BY tf.doc_id
                          ORDER BY tf.tf DESC, tf.term ASC) AS INT) AS rank,
                     round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfc.df), 4)
                         AS tfidf
              FROM tf JOIN dfc USING (term), n)
            SELECT doc_id, term, tf, df, rank, tfidf
            FROM ranked WHERE rank <= 5
        """,
        "quality_filter": f"""
            WITH q AS ({_qf_cols_sql('documents')}),
            v AS (
              SELECT doc_id, n_words,
                     concat_ws(',',
                       CASE WHEN n_words < {A.QF_MIN_WORDS}
                            THEN 'too_short' END,
                       CASE WHEN n_words > {A.QF_MAX_WORDS}
                            THEN 'too_long' END,
                       CASE WHEN sum_len * 10 < {A.QF_MIN_MEAN_LEN_X10} * n_words
                            THEN 'short_words' END,
                       CASE WHEN sum_len * 10 > {A.QF_MAX_MEAN_LEN_X10} * n_words
                            THEN 'long_words' END,
                       CASE WHEN n_digits * 100 > {A.QF_MAX_DIGIT_PCT} * n_chars
                            THEN 'digit_heavy' END,
                       CASE WHEN n_distinct * 100 < {A.QF_MIN_DISTINCT_PCT} * n_words
                            THEN 'repetitive' END) AS violations
              FROM q)
            SELECT doc_id, n_words, violations,
                   CAST(violations = '' AS INT) AS keep
            FROM v
        """,
        "extract_links_roundtrip": """
            SELECT doc_id,
                   'h' || CAST((doc_id * 7 + 1) % 37 AS VARCHAR)
                       || '.example/x' AS href,
                   CAST(0 AS INT) AS link_idx
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id,
                   'h' || CAST((doc_id * 7 + 2) % 37 AS VARCHAR)
                       || '.example/x' AS href,
                   CAST(1 AS INT) AS link_idx
            FROM documents WHERE text IS NOT NULL
        """,
        "pagerank_extracted_hosts": """
            WITH e AS (
              SELECT doc_id AS src,
                     1000000000 + (doc_id * 7 + 1) % 37 AS dst
              FROM documents WHERE text IS NOT NULL
              UNION ALL
              SELECT doc_id, 1000000000 + (doc_id * 7 + 2) % 37
              FROM documents WHERE text IS NOT NULL),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY src),
            p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM nodes),
            c1 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p0 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p1 AS (SELECT nodes.node,
                          CAST(150000 + (COALESCE(c1.m, 0) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c1 ON c1.node = nodes.node),
            c2 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p1 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p2 AS (SELECT nodes.node,
                          CAST(150000 + (COALESCE(c2.m, 0) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c2 ON c2.node = nodes.node)
            SELECT node, p AS rank_micro FROM p2
        """,
        "corpus_report": f"""
            WITH q AS ({_qf_cols_sql('documents')}),
            keepf AS (SELECT doc_id, n_words,
                             CASE WHEN {_QF_BAD_SQL} THEN 0 ELSE 1 END
                                 AS keep
                      FROM q),
            de AS (SELECT doc_id,
                          CASE WHEN row_number() OVER (
                               PARTITION BY md5(text) ORDER BY doc_id) > 1
                               THEN 1 ELSE 0 END AS is_duplicate
                   FROM documents),
            b AS (SELECT doc_id, lang, length(text) AS n_chars
                  FROM documents)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(k.n_words) AS BIGINT) AS total_words,
                   CAST(sum(de.is_duplicate) AS BIGINT) AS n_exact_dups,
                   CAST(sum(k.keep) AS BIGINT) AS n_quality_keep,
                   CAST(sum(b.n_chars) AS BIGINT)
                       // CAST(count(*) AS BIGINT) AS mean_chars
            FROM b
            JOIN keepf k USING (doc_id)
            JOIN de USING (doc_id)
            GROUP BY lang
        """,
        "curation_v3": f"""
            WITH base AS (
              SELECT doc_id, trim(text) AS text FROM documents
              WHERE {_ELIGIBLE_SQL}),
            qual AS ({_qf_cols_sql('base')}),
            kept AS (
              SELECT b.doc_id, b.text, q.n_words
              FROM base b JOIN qual q USING (doc_id)
              WHERE NOT {_QF_BAD_SQL}),
            {_surprisal_cte('kept')},
            gated AS (SELECT k.doc_id, k.text, k.n_words, s.mean_micronats
                      FROM kept k JOIN surp s USING (doc_id)
                      WHERE s.mean_micronats <= 8000000),
            {_simhash_cte('gated')},
            {_split_cte('gated')}
            SELECT g.doc_id, g.n_words, g.mean_micronats,
                   shash.simhash, spl.split
            FROM gated g
            JOIN shash USING (doc_id)
            JOIN spl USING (doc_id)
        """,
        "quantize_embeddings": """
            SELECT vec_id, round(mx, 4) AS scale,
                   array_to_string(
                     CASE WHEN mx = 0
                          THEN list_transform(e, x -> CAST(0 AS INT))
                          ELSE list_transform(e, x ->
                               CAST(round(x * CAST(127.0 AS DOUBLE) / mx)
                                    AS INT)) END, ',') AS qvec_csv
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                         list_aggregate(
                           list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> abs(x)), 'max') AS mx
                  FROM embeddings)
        """,
        "quantized_knn": f"""
            WITH {_int8_cte()},
            qn AS (SELECT * FROM (
                     SELECT vec_id, CAST(qvec AS DOUBLE[]) AS qd,
                            sqrt(list_dot_product(CAST(qvec AS DOUBLE[]),
                                                  CAST(qvec AS DOUBLE[])))
                                AS nrm
                     FROM q)
                   WHERE nrm > 0),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     list_dot_product(a.qd, b.qd) / (a.nrm * b.nrm) AS cos
              FROM qn a CROSS JOIN qn b
              WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
            ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY round(cos, 4) DESC, neighbor_id ASC)
                         AS rank, cos
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
                   round(cos, 4) AS cos_q
            FROM ranked WHERE rank <= 5
        """,
        "pagerank_links": f"""
            WITH {_pr3_ctes()}
            SELECT node, p AS rank_micro FROM p3
        """,
        # HITS: 2 unrolled rounds of the all-integer L1-normalized
        # convention (h0 = 1e9 // n; a = raw*1e9 // Σraw) over the same
        # affine graph — DISTINCT matches hits_scores' 0/1 adjacency
        "hits_links": """
            WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
            e AS (
              SELECT DISTINCT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 31 + 7 * j) % n.nn AS dst
                FROM documents, n, (SELECT unnest([1, 2, 3]) AS j) js)
              WHERE src <> dst),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes),
            h0 AS (SELECT node,
                          CAST(1000000000 // (SELECT c FROM nc) AS BIGINT)
                          AS h FROM nodes),
            a1r AS (SELECT nodes.node, CAST(COALESCE(x.m, 0) AS BIGINT) AS raw
                    FROM nodes LEFT JOIN (
                      SELECT e.dst AS node, sum(h0.h) AS m
                      FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst) x
                      ON x.node = nodes.node),
            a1 AS (SELECT node,
                          CAST((raw * 1000000000)
                               // (SELECT sum(raw) FROM a1r) AS BIGINT) AS a
                   FROM a1r),
            h1r AS (SELECT nodes.node, CAST(COALESCE(x.m, 0) AS BIGINT) AS raw
                    FROM nodes LEFT JOIN (
                      SELECT e.src AS node, sum(a1.a) AS m
                      FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src) x
                      ON x.node = nodes.node),
            h1 AS (SELECT node,
                          CAST((raw * 1000000000)
                               // (SELECT sum(raw) FROM h1r) AS BIGINT) AS h
                   FROM h1r),
            a2r AS (SELECT nodes.node, CAST(COALESCE(x.m, 0) AS BIGINT) AS raw
                    FROM nodes LEFT JOIN (
                      SELECT e.dst AS node, sum(h1.h) AS m
                      FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst) x
                      ON x.node = nodes.node),
            a2 AS (SELECT node,
                          CAST((raw * 1000000000)
                               // (SELECT sum(raw) FROM a2r) AS BIGINT) AS a
                   FROM a2r),
            h2r AS (SELECT nodes.node, CAST(COALESCE(x.m, 0) AS BIGINT) AS raw
                    FROM nodes LEFT JOIN (
                      SELECT e.src AS node, sum(a2.a) AS m
                      FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src) x
                      ON x.node = nodes.node),
            h2 AS (SELECT node,
                          CAST((raw * 1000000000)
                               // (SELECT sum(raw) FROM h2r) AS BIGINT) AS h
                   FROM h2r)
            SELECT h2.node, h2.h AS hub_micro, a2.a AS auth_micro
            FROM h2 JOIN a2 ON a2.node = h2.node
        """,
        # funnel: per-user min-ts chaining, strict-after (>) semantics,
        # over the first eighth of the stream (see the queries() note:
        # the full fixture converts every user at every step)
        # per-lang stopword lists: df*100 >= 60*n_docs integer gate
        # positional phrase query: anchor = pos - slot, full match iff
        # both slots present at one anchor (pos unique per slot)
        "phrase_search": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            m AS (SELECT doc_id,
                         pos - CASE tok WHEN 'table' THEN 0 ELSE 1 END
                             AS anchor
                  FROM tk WHERE tok IN ('table', 'scan')),
            hits AS (SELECT doc_id, anchor FROM m WHERE anchor >= 0
                     GROUP BY doc_id, anchor HAVING count(*) = 2)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(min(anchor) AS BIGINT) AS first_pos
            FROM hits GROUP BY doc_id
        """,
        # BFS levels over the shared affine graph, 4 unrolled rounds;
        # each level expands only dist = r-1 (frontier form), min-merged
        "crawl_depth": """
            WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
            e AS (
              SELECT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 31 + 7 * j) % n.nn AS dst
                FROM documents, n, (SELECT unnest([1, 2, 3]) AS j) js)
              WHERE src <> dst),
            d0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS dist
                   FROM documents WHERE doc_id % 97 = 0),
            d1 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT node, dist FROM d0
                     UNION ALL
                     SELECT e.dst, d.dist + 1 FROM e
                     JOIN d0 d ON d.node = e.src AND d.dist = 0)
                   GROUP BY node),
            d2 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT node, dist FROM d1
                     UNION ALL
                     SELECT e.dst, d.dist + 1 FROM e
                     JOIN d1 d ON d.node = e.src AND d.dist = 1)
                   GROUP BY node),
            d3 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT node, dist FROM d2
                     UNION ALL
                     SELECT e.dst, d.dist + 1 FROM e
                     JOIN d2 d ON d.node = e.src AND d.dist = 2)
                   GROUP BY node),
            d4 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                     SELECT node, dist FROM d3
                     UNION ALL
                     SELECT e.dst, d.dist + 1 FROM e
                     JOIN d3 d ON d.node = e.src AND d.dist = 3)
                   GROUP BY node)
            SELECT node, dist FROM d4
        """,
        # ±3-token snippet around the FIRST 'query' hit; list_slice is
        # 1-based END-inclusive (the host_anchor_terms convention) and
        # clamps the tail like F.slice
        "search_snippets": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            fh AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS first_pos
                   FROM tk WHERE tok = 'query' GROUP BY doc_id)
            SELECT d.doc_id, fh.first_pos,
                   array_to_string(
                     list_slice(string_split(d.text, ' '),
                                greatest(0, first_pos - 3) + 1,
                                first_pos + 4),
                     ' ') AS snippet
            FROM documents d JOIN fh ON fh.doc_id = d.doc_id
        """,
        # NEAR/3 proximity: pruned posting-pair join, |pa - pb| <= 3
        "proximity_search": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            pa AS (SELECT doc_id, pos AS p FROM tk WHERE tok = 'table'),
            pb AS (SELECT doc_id, pos AS p FROM tk WHERE tok = 'scan'),
            g AS (SELECT pa.doc_id, abs(pa.p - pb.p) AS gap
                  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
                  WHERE abs(pa.p - pb.p) <= 3)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(min(gap) AS BIGINT) AS min_gap
            FROM g GROUP BY doc_id
        """,
        # positional index: per-(term, doc) ascending position CSV +
        # true-df window stamp, min_df=2 filter AFTER the stamp
        "positional_index": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS term,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            pd AS (SELECT term, doc_id,
                          string_agg(CAST(pos AS VARCHAR), ','
                                     ORDER BY pos) AS positions_csv
                   FROM tk GROUP BY term, doc_id),
            st AS (SELECT term, doc_id, positions_csv,
                          CAST(count(*) OVER (PARTITION BY term) AS BIGINT)
                              AS df
                   FROM pd)
            SELECT term, doc_id, df, positions_csv FROM st WHERE df >= 2
        """,
        # tokenizer fertility: the bpe_token_counts CTE chain, both sums
        # from one per-doc aggregate, per-lang integer milli ratio
        "bpe_fertility": f"""
            WITH {_bpe_ctes(6)},
            pw AS (SELECT g,
                          CAST(length(s) - length(replace(s, chr(31), ''))
                               + 1 AS BIGINT) AS n_sub
                   FROM w6),
            pd AS (SELECT doc_id,
                          CAST(sum(n_sub) AS BIGINT) AS nb,
                          CAST(count(*) AS BIGINT) AS nw
                   FROM tok JOIN pw USING (g) GROUP BY doc_id)
            SELECT d.lang,
                   CAST(sum(nb) AS BIGINT) AS n_tokens_bpe,
                   CAST(sum(nw) AS BIGINT) AS n_words,
                   CAST(sum(nb) * 1000 // sum(nw) AS BIGINT)
                       AS fertility_milli
            FROM pd JOIN documents d USING (doc_id) GROUP BY d.lang
        """,
        # segment-merge equivalence: the merged even/odd-half indexes must
        # equal the one-pass whole-corpus index (doc-disjoint segments)
        "index_merge": """
            WITH dt AS (SELECT DISTINCT doc_id, tok FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents))
            SELECT tok AS term, CAST(count(*) AS BIGINT) AS df,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id) AS postings_csv
            FROM dt GROUP BY tok
        """,
        # personalized PageRank: 2 unrolled integer rounds, teleport only
        # to the %97 seed set (p0 = 1e6 per seed, 0 elsewhere)
        "personalized_ppr": """
            WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
            e AS (
              SELECT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 31 + 7 * j) % n.nn AS dst
                FROM documents, n, (SELECT unnest([1, 2, 3]) AS j) js)
              WHERE src <> dst),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY src),
            p0 AS (SELECT node,
                          CAST(CASE WHEN node % 97 = 0 THEN 1000000
                               ELSE 0 END AS BIGINT) AS p
                   FROM nodes),
            c1 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p0 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p1 AS (SELECT nodes.node,
                          CAST(CASE WHEN nodes.node % 97 = 0 THEN 150000
                               ELSE 0 END
                               + (COALESCE(c1.m, 0) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c1 ON c1.node = nodes.node),
            c2 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p1 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p2 AS (SELECT nodes.node,
                          CAST(CASE WHEN nodes.node % 97 = 0 THEN 150000
                               ELSE 0 END
                               + (COALESCE(c2.m, 0) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c2 ON c2.node = nodes.node)
            SELECT node, p AS rank_micro FROM p2
        """,
        # compaction bins: cumulative-prefix cut over (size DESC, id)
        # within each source partition; Spark div == DuckDB // here
        # (non-negative operands)
        "compaction_plan": """
            WITH f AS (SELECT source AS part, doc_id AS file_id,
                              CAST(n_chars AS BIGINT) AS size
                       FROM documents),
            c AS (SELECT part, file_id, size,
                         sum(size) OVER (PARTITION BY part
                                         ORDER BY size DESC, file_id
                                         ROWS UNBOUNDED PRECEDING) - size
                             AS before_sz
                  FROM f)
            SELECT part, file_id, size,
                   CAST(before_sz // 2000 AS BIGINT) AS bin
            FROM c
        """,
        # HRW placement: integer weights from the first 14 hex digits of
        # md5(id:shard) (_hex_int_sql), packed argmax weight*16+(15-s);
        # shard_after recomputes with shard 7 removed
        "rendezvous_shards": f"""
            WITH s AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS s),
            w AS (SELECT d.doc_id, s.s,
                         {_hex_int_sql(
                             "md5(CAST(d.doc_id AS VARCHAR) || ':' || "
                             "CAST(s.s AS VARCHAR))", 1, 14)}
                             * 16 + (15 - s.s) AS packed
                  FROM documents d CROSS JOIN s),
            a AS (SELECT doc_id, max(packed) AS f,
                         max(CASE WHEN s <> 7 THEN packed END) AS r
                  FROM w GROUP BY doc_id)
            SELECT doc_id, CAST(15 - f % 16 AS BIGINT) AS shard,
                   CAST(15 - r % 16 AS BIGINT) AS shard_after,
                   CAST(CASE WHEN 15 - f % 16 <> 15 - r % 16
                        THEN 1 ELSE 0 END AS BIGINT) AS moved
            FROM a
        """,
        # posting-gap sizing: first gap = doc_id + 1 (the -1 sentinel),
        # bitlen via format('{:b}') ≡ Spark length(conv(g, 10, 2))
        "postings_gap_stats": """
            WITH dt AS (SELECT DISTINCT doc_id,
                               unnest(string_split(text, ' ')) AS term
                        FROM documents),
            g AS (SELECT term,
                         doc_id - lag(doc_id, 1, -1)
                             OVER (PARTITION BY term ORDER BY doc_id)
                             AS gap
                  FROM dt),
            p AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                         CAST(sum(length(format('{:b}', gap)))
                              AS BIGINT) AS bits_delta,
                         CAST(sum((length(format('{:b}', gap)) + 6) // 7)
                              AS BIGINT) AS bytes_vbyte
                  FROM g GROUP BY term)
            SELECT * FROM p WHERE df >= 2
        """,
        # shrinkage prior: q = alpha-permille per doc, corpus mean as a
        # one-row cross join, k=20 pseudo-counts — all integer division
        "domain_quality_prior": """
            WITH q AS (SELECT source,
                              CAST(length(regexp_replace(
                                       text, '[^a-zA-Z]', '', 'g'))
                                   AS BIGINT) * 1000
                                  // (length(text) + 1) AS q
                       FROM documents),
            gm AS (SELECT sum(q) * 1000 // count(*) AS gm_micro FROM q),
            p AS (SELECT source, CAST(sum(q) AS BIGINT) AS sq,
                         CAST(count(*) AS BIGINT) AS n_docs
                  FROM q GROUP BY source)
            SELECT source, n_docs,
                   CAST(sq * 1000 // n_docs AS BIGINT) AS mean_micro,
                   CAST((sq * 1000 + 20 * gm.gm_micro) // (n_docs + 20)
                        AS BIGINT) AS prior_micro
            FROM p CROSS JOIN gm
        """,
        # TextRank: 2 unrolled integer pagerank rounds over the distinct
        # adjacent-token graph (symmetric — outdeg >= 1, no dangling),
        # top 50 by (p DESC, term) with rk over the survivors
        "textrank_keywords": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            bg AS (SELECT DISTINCT a.tok AS src, b.tok AS dst
                   FROM tk a JOIN tk b
                     ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   WHERE a.tok <> b.tok),
            e AS (SELECT src, dst FROM bg
                  UNION SELECT dst AS src, src AS dst FROM bg),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY src),
            p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM nodes),
            c1 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p0 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p1 AS (SELECT nodes.node,
                          CAST(150000 + (COALESCE(c1.m, 0) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c1 ON c1.node = nodes.node),
            c2 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p1 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p2 AS (SELECT nodes.node,
                          CAST(150000 + (COALESCE(c2.m, 0) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c2 ON c2.node = nodes.node),
            rk AS (SELECT node AS term, p AS rank_micro,
                          CAST(row_number() OVER (ORDER BY p DESC, node)
                               AS BIGINT) AS rk
                   FROM p2)
            SELECT term, rank_micro, rk FROM rk WHERE rk <= 50
        """,
        # first/last-touch attribution: touches strictly before the first
        # purchase per user ((ts, event_id) order); rn is unique so
        # arg_min/arg_max cannot tie; no-prior-touch users excluded
        # df-cap calibration: capped chain (sfx c) vs uncapped truth
        # (sfx t) inlined under one WITH via the suffix parameter
        "tfidf_eval": f"""
            WITH {_tfidf_pair_ctes(100, 300, sfx='c')},
            {_tfidf_pair_ctes(1 << 40, 300, sfx='t')},
            ct AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tpairt),
            cc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM tpairc),
            ch AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
                   FROM tpairt t JOIN tpairc c
                     ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
            SELECT n_true, n_cand, n_hit,
                   n_hit * 1000 // greatest(n_true, 1) AS recall_milli,
                   n_hit * 1000 // greatest(n_cand, 1) AS precision_milli
            FROM ct, cc, ch
        """,
        # Q4-shaped late-order priority counts: EXISTS == left-semi
        "tpch_order_priority": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate <  TIMESTAMP '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority
        """,
        # Q13-shaped customer order-count histogram incl. zero-order
        "tpch_customer_distribution": """
            WITH per AS (SELECT o_custkey, count(*) AS n_orders
                         FROM orders GROUP BY o_custkey)
            SELECT COALESCE(per.n_orders, 0) AS c_count,
                   CAST(count(*) AS BIGINT) AS custdist
            FROM customer c LEFT JOIN per ON per.o_custkey = c.c_custkey
            GROUP BY COALESCE(per.n_orders, 0)
        """,
        # fifth components family: recursive closure over the shared
        # tfidf pair chain (the _prefix_comp_ctes shape)
        "dedup_components_tfidf": f"""
            WITH RECURSIVE {_tfidf_pair_ctes(100, 300)},
            sym AS (SELECT doc_a AS a, doc_b AS b FROM tpair
                    UNION SELECT doc_b, doc_a FROM tpair),
            reach(src, dst) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
            SELECT d.doc_id,
                   CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id))
                        AS BIGINT) AS component
            FROM documents d
            LEFT JOIN (SELECT src, min(dst) AS mn
                       FROM reach GROUP BY src) m
              ON m.src = d.doc_id
        """,
        # first-k session paths off the sessionize CTE; fixed-slot
        # conditional aggregates + null-skipping concat_ws (wanted here)
        "session_paths": """
            WITH lagged AS (
              SELECT user_id, event_id, ts, event_type,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         AS prev_ts
              FROM events),
            flagged AS (
              SELECT user_id, event_id, ts, event_type,
                     CASE WHEN prev_ts IS NULL
                               OR ts - prev_ts > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_session
              FROM lagged),
            sessioned AS (
              SELECT user_id, event_id, ts, event_type,
                     sum(new_session) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS session_idx
              FROM flagged),
            ranked AS (
              SELECT user_id, session_idx, event_type,
                     row_number() OVER (PARTITION BY user_id, session_idx
                         ORDER BY ts, event_id) AS rn
              FROM sessioned),
            slots AS (
              SELECT user_id, session_idx,
                     max(CASE WHEN rn = 1 THEN event_type END) AS t1,
                     max(CASE WHEN rn = 2 THEN event_type END) AS t2,
                     max(CASE WHEN rn = 3 THEN event_type END) AS t3
              FROM ranked WHERE rn <= 3
              GROUP BY user_id, session_idx)
            SELECT concat_ws('>', t1, t2, t3) AS path,
                   CAST(count(*) AS BIGINT) AS n_sessions
            FROM slots GROUP BY concat_ws('>', t1, t2, t3)
        """,
        # joint quality x duplication card over the planted-copy corpus
        # (shared _qf_cols_sql/_QF_BAD_SQL constants)
        "quality_by_dup": f"""
            WITH corpus AS (SELECT doc_id, text FROM documents
                            UNION ALL
                            SELECT doc_id + 1000000, text FROM documents
                            WHERE doc_id % 7 = 0),
            q AS ({_qf_cols_sql('corpus')}),
            qq AS (SELECT doc_id,
                          CASE WHEN {_QF_BAD_SQL} THEN 0 ELSE 1 END
                              AS qf_pass
                   FROM q),
            hx AS (SELECT doc_id, md5(text) AS h FROM corpus),
            cx AS (SELECT h, count(*) AS nc FROM hx GROUP BY h),
            dx AS (SELECT hx.doc_id,
                          CASE WHEN cx.nc > 1 THEN 1 ELSE 0 END AS is_dup
                   FROM hx JOIN cx USING (h))
            SELECT CAST(qf_pass AS INT) AS qf_pass,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
                   (CAST(sum(is_dup) AS BIGINT) * 1000)
                       // CAST(count(*) AS BIGINT) AS dup_milli
            FROM qq JOIN dx USING (doc_id)
            GROUP BY qf_pass
        """,
        # Broder bow-tie census: forward+backward unrolled frontier BFS
        # from pivot 0 over the planted bow-tie fixture; a node's class
        # is pure reachability, all-integer
        "bowtie_components": f"""
            WITH {_bowtie_ctes(12)}
            SELECT n.node,
                   CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL
                            THEN 'core'
                        WHEN f.node IS NOT NULL THEN 'out'
                        WHEN b.node IS NOT NULL THEN 'in'
                        ELSE 'other' END AS component
            FROM nbt n
            LEFT JOIN fb12 f ON f.node = n.node
            LEFT JOIN bb12 b ON b.node = n.node
        """,
        # landmark harmonic centrality: per-seed unrolled BFS, integer
        # 1000 // dist contributions summed order-free
        "harmonic_centrality": f"""
            WITH {_hc_ctes(4)}
            SELECT node,
                   CAST(sum(1000 // dist) AS BIGINT) AS h_milli,
                   CAST(count(*) AS BIGINT) AS n_seeds_reached
            FROM h4 WHERE dist >= 1 GROUP BY node
        """,
        # log2 gap histogram: epoch_us lag in the (ts, event_id) total
        # order; bucket = binary-rendering length (the HLL rho trick)
        "interarrival_histogram": """
            WITH g AS (SELECT event_type,
                              epoch_us(ts) - lag(epoch_us(ts)) OVER
                                  (PARTITION BY event_type
                                   ORDER BY ts, event_id) AS gap_us
                       FROM events)
            SELECT event_type,
                   CAST(length(format('{:b}', gap_us)) AS BIGINT)
                       AS bucket,
                   CAST(count(*) AS BIGINT) AS n_gaps
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY event_type, bucket
        """,
        # salted negative sampling: md5-u32 offset in [1, n-1] (the
        # epoch_shuffle hex-int convention), % == pmod on non-negatives
        "negative_samples": f"""
            WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                        FROM documents),
            h AS (SELECT doc_id, CAST(j AS BIGINT) AS j,
                         {_hex_int_sql(
                             "md5('ns0:' || CAST(doc_id AS VARCHAR)"
                             " || ':' || CAST(j AS VARCHAR))", 1, 8)}
                             AS hv
                  FROM documents,
                       (SELECT unnest([1, 2, 3, 4]) AS j) js)
            SELECT doc_id, j,
                   (doc_id + 1 + (hv % (n - 1))) % n AS neg_id
            FROM h, nn
        """,
        # per-source PII audit over residue-planted PII: the oracle
        # predicts counts from the doc_id residues (corpus text is
        # digit/@-free — the pii_scrub fixture contract)
        "pii_report": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_emails,
                   CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ips,
                   CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_phones,
                   CAST(sum(CASE WHEN doc_id % 3 = 0 OR doc_id % 5 = 0
                                  OR doc_id % 7 = 0
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS docs_with_pii
            FROM documents GROUP BY source
        """,
        # TF-IDF cosine pairs: integer dot/norm sums off the shared
        # weight chain; isqrt corrections mirror the Spark _isqrt
        "tfidf_neardup_pairs": f"""
            WITH {_tfidf_pair_ctes(100, 300)}
            SELECT doc_a, doc_b, cos_milli FROM tpair
        """,
        # the cap's loud companion: excluded stop terms
        "tfidf_stop_terms": f"""
            WITH {_tfidf_w_ctes(100)}
            SELECT term, df FROM dfq WHERE df > 100
        """,
        # alpha=0.5 temperature mixing: the exact-isqrt chain (float
        # sqrt + undershoot/overshoot corrections) expression-for-
        # expression the Spark side; truncating // == div on positives
        "temperature_mix": """
            WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                       FROM documents GROUP BY source),
            w0 AS (SELECT source, n_docs,
                          CAST(floor(sqrt(CAST(n_docs AS DOUBLE)))
                               AS BIGINT) AS y0
                   FROM c),
            w1 AS (SELECT source, n_docs,
                          y0 + CASE WHEN (y0 + 1) * (y0 + 1) <= n_docs
                                    THEN 1 ELSE 0 END AS y1
                   FROM w0),
            w2 AS (SELECT source, n_docs,
                          y1 - CASE WHEN y1 * y1 > n_docs
                                    THEN 1 ELSE 0 END AS w
                   FROM w1),
            t AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM w2)
            SELECT source, n_docs, w,
                   (w * 1000000) // total_w AS share_micro,
                   (w * 100000) // total_w AS target_docs
            FROM w2, t
        """,
        # per-column profile card over events (shared _PROFILE_COLS)
        "table_profile": _profile_sql("events", _PROFILE_COLS),
        # 2-core over the clique+tree fixture: unrolled peel rounds
        # (identity past fixpoint — peel depth 5 at n=500, rounds=9)
        "kcore_nodes": f"""
            WITH te AS (SELECT doc_id AS src, doc_id // 2 AS dst
                        FROM documents WHERE doc_id >= 1),
            ce AS (SELECT doc_id AS src, (doc_id + j) % 20 AS dst
                   FROM documents,
                        (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS j) js
                   WHERE doc_id < 20),
            ee AS (SELECT src, dst FROM te
                   UNION ALL SELECT src, dst FROM ce),
            {_kcore_ctes(k=2, rounds=9)}
            SELECT node, core_deg FROM dfin WHERE core_deg >= 2
        """,
        # synchronous LPA over the planted 10-node communities: packed
        # (cnt, min-label) argmax per round, 4 unrolled rounds
        "label_communities": f"""
            WITH {_CHORD_EDGES_CTE},
            {_lpa_ctes(rounds=4)}
            SELECT node, label FROM l4
        """,
        # Burrows' Delta: micro-freq grid (zero cells real), floor-div
        # mean/variance, isqrt-corrected sigma, sign-peeled z_milli,
        # +B offset signed source means, sum|p| div m (_stylo_ctes —
        # shared with curation_v9's style gate)
        "stylometry_delta": f"""
            WITH {_stylo_ctes(10)}
            SELECT source, n_docs, delta_milli FROM sdelta
        """,
        # composed session-10 curation: shuffle-shard subsample →
        # style gate (_stylo_ctes reused) → alpha gate → release card
        # with the A/A KS parity check between doc_id halves
        "curation_v9": f"""
            WITH {_stylo_ctes(10)},
            keepids AS (SELECT doc_id FROM documents
                        WHERE {_hex_int_sql(
                            "md5('epoch0:' || doc_id)", 1, 8)} % 16
                            < 12),
            styled AS (SELECT source FROM sdelta
                       WHERE delta_milli <= 155),
            d2 AS (SELECT d.doc_id, d.text FROM documents d
                   JOIN keepids USING (doc_id)
                   JOIN styled s ON s.source = d.source),
            d3 AS (SELECT doc_id, text FROM d2
                   WHERE (length(regexp_replace(text,
                              '[^a-zA-Z]', '', 'g')) * 1000)
                         // (length(text) + 1) >= 812),
            c0 AS (SELECT CAST(count(*) AS BIGINT) AS n_input
                   FROM documents),
            c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled
                   FROM keepids),
            c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_styled FROM d2),
            c3 AS (SELECT CAST(count(*) AS BIGINT) AS n_quality
                   FROM d3),
            ksx AS (SELECT CAST(len(string_split(text, ' '))
                                AS BIGINT) AS x,
                           CASE WHEN doc_id % 2 = 0
                                THEN 1 ELSE 0 END AS is_a
                    FROM d3),
            ksh AS (SELECT x,
                           CAST(sum(is_a) AS BIGINT) AS ca,
                           CAST(sum(1 - is_a) AS BIGINT) AS cb
                    FROM ksx GROUP BY x),
            ksc AS (SELECT sum(ca) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum1,
                           sum(cb) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum2
                    FROM ksh),
            kst AS (SELECT CAST(max(cum1) AS BIGINT) AS n1,
                           CAST(max(cum2) AS BIGINT) AS n2
                    FROM ksc),
            ksd AS (SELECT n1, n2,
                           CAST(max(abs(n2 * cum1 - n1 * cum2))
                                AS BIGINT) AS d_num
                    FROM ksc CROSS JOIN kst GROUP BY n1, n2)
            SELECT n_input, n_sampled, n_styled, n_quality,
                   n1, n2, d_num,
                   (d_num * 1000) // (n1 * n2) AS d_milli,
                   CAST(CASE WHEN 1000000 * d_num * d_num
                             > 1844164 * (n1 + n2) * n1 * n2
                        THEN 1 ELSE 0 END AS BIGINT) AS reject_95
            FROM c0, c1, c2, c3, ksd
        """,
        # epoch-shuffle mixing eval: the epoch_shuffle key/shard CTE +
        # per-shard lag walk vs the sum n(n-1)/N(N-1) expectation
        "shuffle_eval": f"""
            WITH keyed AS (
              SELECT doc_id, source, md5('epoch0:' || doc_id) AS k,
                     {_hex_int_sql("md5('epoch0:' || doc_id)", 1, 8)} % 16
                         AS shard
              FROM documents),
            adj AS (SELECT source,
                           lag(source) OVER (PARTITION BY shard
                                             ORDER BY k, doc_id) AS prev
                    FROM keyed),
            obs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(CASE WHEN prev IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT)
                               AS n_pairs,
                           CAST(sum(CASE WHEN prev = source
                                    THEN 1 ELSE 0 END) AS BIGINT)
                               AS n_same
                    FROM adj),
            ex AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS same_w,
                          CAST(sum(c) AS BIGINT) AS nn
                   FROM (SELECT count(*) AS c FROM documents
                         GROUP BY source)),
            r AS (SELECT n_docs, n_pairs, n_same,
                         (n_same * 1000) // greatest(n_pairs, 1)
                             AS same_milli,
                         (same_w * 1000) // greatest(nn * (nn - 1), 1)
                             AS expected_milli
                  FROM obs CROSS JOIN ex)
            SELECT n_docs, n_pairs, n_same, same_milli, expected_milli,
                   CAST(CASE WHEN same_milli > 2 * expected_milli
                        THEN 1 ELSE 0 END AS BIGINT) AS clumped
            FROM r
        """,
        # cross-method dedup agreement: the ngram_jaccard chain at
        # t = 2/5 (cross-multiplied) full-outer-joined against the
        # simhash banded+rescored pair chain; both chains are the
        # standalone oracles' own CTEs
        "dedup_agreement": f"""
            WITH {_SHINGLE_CTE}, {_PAIR_INTER_CTES},
            ja AS (SELECT doc_a, doc_b
                   FROM inter
                   JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
                   WHERE intersection * 5
                         >= 2 * (sa.sz + sb.sz - intersection)),
            {_simhash_cte()},
            kept AS (
              SELECT b.* FROM sbands b
              JOIN (SELECT band, bval FROM sbands
                    GROUP BY band, bval HAVING count(*) <= 100) ok
                USING (band, bval)),
            sp AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM kept a JOIN kept b
                ON a.band = b.band AND a.bval = b.bval
               AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
            m AS (SELECT CASE WHEN ja.doc_a IS NOT NULL
                              THEN 1 ELSE 0 END AS ia,
                         CASE WHEN sp.doc_a IS NOT NULL
                              THEN 1 ELSE 0 END AS ib
                  FROM ja FULL OUTER JOIN sp
                    ON ja.doc_a = sp.doc_a AND ja.doc_b = sp.doc_b),
            a AS (SELECT CAST(COALESCE(sum(ia), 0) AS BIGINT)
                             AS n_jaccard,
                         CAST(COALESCE(sum(ib), 0) AS BIGINT)
                             AS n_simhash,
                         CAST(COALESCE(sum(ia * ib), 0) AS BIGINT)
                             AS n_both
                  FROM m)
            SELECT n_jaccard, n_simhash, n_both,
                   n_jaccard - n_both AS only_jaccard,
                   n_simhash - n_both AS only_simhash,
                   (n_both * 1000)
                       // greatest(n_jaccard + n_simhash - n_both, 1)
                       AS agreement_milli
            FROM a
        """,
        # per-source quality drift over ingest batches: integer
        # alpha-permille per doc, batch means by floor-div, max-min
        # spread + flag verdict (regexp_replace needs 'g' in DuckDB)
        "quality_drift": """
            WITH per AS (SELECT source, doc_id // 100 AS b,
                                (length(regexp_replace(text,
                                    '[^a-zA-Z]', '', 'g')) * 1000)
                                    // (length(text) + 1) AS qa
                         FROM documents),
            g AS (SELECT source, b,
                         CAST(sum(qa) AS BIGINT)
                             // CAST(count(*) AS BIGINT)
                             AS mean_permille
                  FROM per GROUP BY source, b),
            s AS (SELECT source,
                         CAST(count(*) AS BIGINT) AS n_batches,
                         CAST(min(mean_permille) AS BIGINT)
                             AS min_permille,
                         CAST(max(mean_permille) AS BIGINT)
                             AS max_permille
                  FROM g GROUP BY source)
            SELECT source, n_batches, min_permille, max_permille,
                   max_permille - min_permille AS drift_permille,
                   CAST(CASE WHEN max_permille - min_permille > 150
                        THEN 1 ELSE 0 END AS BIGINT) AS flagged
            FROM s
        """,
        # AMS tug-of-war F2 eval: k=16 md5-signed per-type sums,
        # integer squares, mean-of-estimators vs the exact sum(c^2)
        "ams_f2": _ams_f2_sql(16),
        # KWIC concordance: positional hits for the planted term + one
        # doc_id join back to the word array; list_slice is
        # END-INCLUSIVE (mirrors F.slice's start/LENGTH args — the
        # host_anchor_terms convention), both sides clamp naturally
        "kwic_concordance": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            hits AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos
                     FROM tk WHERE tok = 'query'),
            arr AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
            SELECT h.doc_id, h.pos,
                   COALESCE(array_to_string(list_slice(a.w,
                       greatest(h.pos - 2, 1), h.pos), ' '), '')
                       AS left_ctx,
                   'query' AS term,
                   COALESCE(array_to_string(list_slice(a.w,
                       h.pos + 2, h.pos + 4), ' '), '') AS right_ctx
            FROM hits h JOIN arr a ON a.doc_id = h.doc_id
        """,
        # exact-integer two-sample KS: per-length histogram, cumulative
        # counts over the histogram window, d_num = max|n2*F1 - n1*F2|
        # numerator, squared cross-multiplied 95% verdict
        "ks_two_sample": """
            WITH s AS (SELECT CAST(len(string_split(text, ' '))
                                   AS BIGINT) AS x,
                              CASE WHEN source = 'src0'
                                   THEN 1 ELSE 0 END AS is_a
                       FROM documents
                       WHERE source IN ('src0', 'src1')),
            hist AS (SELECT x,
                            CAST(sum(is_a) AS BIGINT) AS c1,
                            CAST(sum(1 - is_a) AS BIGINT) AS c2
                     FROM s GROUP BY x),
            cum AS (SELECT sum(c1) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum1,
                           sum(c2) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum2
                    FROM hist),
            tot AS (SELECT CAST(max(cum1) AS BIGINT) AS n1,
                           CAST(max(cum2) AS BIGINT) AS n2
                    FROM cum),
            d AS (SELECT n1, n2,
                         CAST(max(abs(n2 * cum1 - n1 * cum2)) AS BIGINT)
                             AS d_num
                  FROM cum CROSS JOIN tot GROUP BY n1, n2)
            SELECT n1, n2, d_num,
                   (d_num * 1000) // (n1 * n2) AS d_milli,
                   CAST(CASE WHEN 1000000 * d_num * d_num
                             > 1844164 * (n1 + n2) * n1 * n2
                        THEN 1 ELSE 0 END AS BIGINT) AS reject_95
            FROM d
        """,
        # permuterm wildcard lookup: rotation table from an exploded
        # 0..len sequence, prefix probe per (pattern, key) literal —
        # keys come from the same driver-side parse as the Spark side
        "wildcard_search": f"""
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok
                        FROM documents),
            vdf AS (SELECT tok AS term,
                           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                    FROM tk WHERE tok <> '' GROUP BY tok),
            rot AS (SELECT term, df,
                           substr(term || '$', i + 1)
                               || substr(term || '$', 1, i) AS rot
                    FROM vdf, generate_series(0, 64) AS g(i)
                    WHERE i <= length(term)),
            pats(pattern, key) AS (VALUES {_wildcard_values_sql()})
            SELECT p.pattern, r.term, r.df
            FROM rot r JOIN pats p ON starts_with(r.rot, p.key)
        """,
        # RAKE keyphrases: gaps-and-islands runs between stopword
        # delimiters (shared literal list A.RAKE_STOPWORDS), integer
        # deg*1000//freq word scores summed per phrase, top-50 by
        # (score DESC, phrase)
        "rake_keywords": f"""
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            cand AS (SELECT doc_id, pos, tok FROM tk
                     WHERE tok <> '' AND tok NOT IN ({_RAKE_STOP_SQL})),
            runs AS (SELECT doc_id, pos, tok,
                            pos - row_number() OVER
                                (PARTITION BY doc_id ORDER BY pos) AS grp
                     FROM cand),
            member AS (SELECT doc_id, grp, pos, tok,
                              CAST(count(*) OVER
                                  (PARTITION BY doc_id, grp) AS BIGINT)
                                  AS n_words
                       FROM runs),
            mkeep AS (SELECT * FROM member WHERE n_words <= 6),
            wstats AS (SELECT tok,
                              CAST(count(*) AS BIGINT) AS freq,
                              CAST(sum(n_words) AS BIGINT) AS deg
                       FROM mkeep GROUP BY tok),
            wscore AS (SELECT tok, (deg * 1000) // freq AS wm
                       FROM wstats),
            ph AS (SELECT m.doc_id, m.grp,
                          max(m.n_words) AS n_words,
                          CAST(sum(w.wm) AS BIGINT) AS score_milli,
                          string_agg(m.tok, ' ' ORDER BY m.pos) AS phrase
                   FROM mkeep m JOIN wscore w ON w.tok = m.tok
                   GROUP BY m.doc_id, m.grp),
            ty AS (SELECT phrase, max(n_words) AS n_words,
                          CAST(count(*) AS BIGINT) AS n_occurrences,
                          max(score_milli) AS score_milli
                   FROM ph GROUP BY phrase),
            tops AS (SELECT phrase, n_words, n_occurrences, score_milli,
                            CAST(row_number() OVER
                                (ORDER BY score_milli DESC, phrase)
                                AS BIGINT) AS rk
                     FROM ty)
            SELECT * FROM tops WHERE rk <= 50
        """,
        # Newman-modularity scorecard of the LPA labels over the same
        # chord-community graph: all-integer decomposition q_num =
        # 4*m*e_c - d_c^2 (shared denominator 4*m^2) — undl/nbrl come
        # from the shared _lpa_ctes head, so the edge canonicalization
        # is literally the same text the label oracle uses
        "modularity_eval": f"""
            WITH {_CHORD_EDGES_CTE},
            {_lpa_ctes(rounds=4)},
            mcnt AS (SELECT CAST(count(*) AS BIGINT) AS m_edges
                     FROM undl),
            degs AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                     FROM nbrl GROUP BY node),
            nl AS (SELECT d.deg, l.label
                   FROM degs d JOIN l4 l ON l.node = d.node),
            dsum AS (SELECT label,
                            CAST(count(*) AS BIGINT) AS n_nodes,
                            CAST(sum(deg) AS BIGINT) AS deg_sum
                     FROM nl GROUP BY label),
            intra AS (SELECT la.label,
                             CAST(count(*) AS BIGINT) AS ic
                      FROM undl u
                      JOIN l4 la ON la.node = u.lo
                      JOIN l4 lb ON lb.node = u.hi
                      WHERE la.label = lb.label
                      GROUP BY la.label)
            SELECT d.label, d.n_nodes,
                   CAST(COALESCE(i.ic, 0) AS BIGINT) AS intra_edges,
                   d.deg_sum, m.m_edges,
                   4 * m.m_edges * COALESCE(i.ic, 0)
                       - d.deg_sum * d.deg_sum AS q_num
            FROM dsum d
            LEFT JOIN intra i ON i.label = d.label
            CROSS JOIN mcnt m
        """,
        # first-order Markov transition matrix: lag window in the same
        # (ts, event_id) per-user total order as the Spark side; one
        # non-negative integer division so // == div
        "events_markov": """
            WITH seq AS (
              SELECT user_id, event_type AS to_type,
                     lag(event_type) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         AS from_type
              FROM events
            ),
            p AS (SELECT from_type, to_type,
                         CAST(count(*) AS BIGINT) AS n_pairs
                  FROM seq WHERE from_type IS NOT NULL
                  GROUP BY from_type, to_type),
            t AS (SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
                  FROM p GROUP BY from_type)
            SELECT p.from_type, p.to_type, p.n_pairs, t.n_from,
                   (p.n_pairs * 1000) // t.n_from AS prob_milli
            FROM p JOIN t USING (from_type)
        """,
        # per-doc TTR/hapax card: unnest of the token_counts split
        # convention; all-integer divisions on non-negative operands
        "lexical_diversity": """
            WITH tok AS (SELECT doc_id,
                                unnest(string_split(text, ' ')) AS tok
                         FROM documents),
            per AS (SELECT doc_id, tok, count(*) AS cnt
                    FROM tok GROUP BY doc_id, tok),
            agg AS (SELECT doc_id,
                           CAST(sum(cnt) AS BIGINT) AS n_tokens,
                           CAST(count(*) AS BIGINT) AS n_types,
                           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_hapax
                    FROM per GROUP BY doc_id)
            SELECT doc_id, n_tokens, n_types, n_hapax,
                   (n_types * 1000) // n_tokens AS ttr_milli,
                   (n_hapax * 1000) // n_tokens AS hapax_milli
            FROM agg
        """,
        "events_attribution": """
            WITH r AS (
              SELECT user_id, event_type, value,
                     row_number() OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                     sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_conv
              FROM events),
            pre AS (SELECT user_id,
                           arg_min(event_type, rn) AS first_type,
                           arg_max(event_type, rn) AS last_type
                    FROM r WHERE cum_conv = 0 GROUP BY user_id),
            conv AS (SELECT user_id,
                            CAST(round(value * 100) AS BIGINT) AS vc
                     FROM r
                     WHERE event_type = 'purchase' AND cum_conv = 1)
            SELECT first_type, last_type,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(vc) AS BIGINT) AS sum_value_c
            FROM conv JOIN pre USING (user_id)
            GROUP BY 1, 2
        """,
        # Good–Turing over trigram types: counts → count-of-counts → r*
        # via the tiny self-join on r+1; integer micro-units
        "good_turing": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            g3 AS (SELECT a.tok || ' ' || b.tok || ' ' || c.tok AS g
                   FROM tk a
                   JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   JOIN tk c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
            tc AS (SELECT g, CAST(count(*) AS BIGINT) AS c
                   FROM g3 GROUP BY g),
            cc AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
                   FROM tc GROUP BY c)
            SELECT a.r, a.n_r,
                   CAST((a.r + 1) * COALESCE(b.n_r, 0) * 1000000 // a.n_r
                        AS BIGINT) AS r_star_micro
            FROM cc a LEFT JOIN cc b ON b.r = a.r + 1
            WHERE a.r <= 10
        """,
        # distinct-2 diversity per lang: (lang, gram) counts first, then
        # the per-lang rollup — mirrors the Spark two-level form
        "distinct_ngrams": """
            WITH tk AS (SELECT doc_id, lang,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            g2 AS (SELECT a.lang, a.tok || ' ' || b.tok AS g
                   FROM tk a JOIN tk b
                     ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
            gl AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS cnt
                   FROM g2 GROUP BY 1, 2)
            SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_grams,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(count(*) * 1000 // sum(cnt) AS BIGINT)
                       AS distinct_permille
            FROM gl GROUP BY lang
        """,
        # 3-gram novelty by doc-id decile: occurrence is novel iff its
        # doc_id is the gram's min; bucket = doc_id*10 div N
        "ngram_novelty": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            g3 AS (SELECT a.doc_id,
                          a.tok || ' ' || b.tok || ' ' || c.tok AS g
                   FROM tk a
                   JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                   JOIN tk c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                   FROM documents),
            gd AS (SELECT g, doc_id, CAST(count(*) AS BIGINT) AS cnt
                   FROM g3 GROUP BY 1, 2),
            fw AS (SELECT g, doc_id, cnt,
                          min(doc_id) OVER (PARTITION BY g) AS first_doc
                   FROM gd),
            agg AS (SELECT CAST(doc_id * 10 // n_docs AS BIGINT) AS bucket,
                           CAST(sum(cnt) AS BIGINT) AS n_occ,
                           CAST(sum(CASE WHEN doc_id = first_doc
                                         THEN cnt ELSE 0 END) AS BIGINT)
                               AS n_novel
                    FROM fw CROSS JOIN nd GROUP BY 1)
            SELECT bucket, n_occ, n_novel,
                   CAST(n_novel * 1000 // n_occ AS BIGINT)
                       AS novelty_permille
            FROM agg
        """,
        # curriculum: alpha-permille threshold bands + the epoch_shuffle
        # md5 permutation within (band, shard)
        "curriculum_order": f"""
            WITH sc AS (
              SELECT doc_id,
                     CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          AS BIGINT) * 1000 // (length(text) + 1) AS q
              FROM documents),
            keyed AS (
              SELECT doc_id,
                     (1000 - q) // 250 AS band,
                     md5('cur0:' || doc_id) AS k,
                     {_hex_int_sql("md5('cur0:' || doc_id)", 1, 8)} % 16
                         AS shard
              FROM sc)
            SELECT doc_id, CAST(band AS BIGINT) AS band,
                   CAST(shard AS BIGINT) AS shard,
                   CAST(row_number() OVER (PARTITION BY band, shard
                                           ORDER BY k, doc_id) - 1
                        AS BIGINT) AS pos
            FROM keyed
        """,
        # lang_id confusion cells vs the truth label (the shipped
        # heuristic's CJK/Latin expression inlined)
        "langid_eval": """
            WITH pred AS (
              SELECT lang AS true_lang,
                     CASE WHEN length(regexp_replace(
                                    text, '[^一-鿿぀-ゟ゠-ヿ가-힣]', '', 'g'))
                               > length(regexp_replace(
                                    text, '[^a-zA-Z]', '', 'g'))
                          THEN 'cjk' ELSE 'latin' END AS pred_lang
              FROM documents),
            cells AS (SELECT true_lang, pred_lang,
                             CAST(count(*) AS BIGINT) AS n_docs
                      FROM pred GROUP BY 1, 2),
            tots AS (SELECT true_lang, CAST(sum(n_docs) AS BIGINT)
                         AS class_n
                     FROM cells GROUP BY true_lang)
            SELECT c.true_lang, c.pred_lang, c.n_docs,
                   CAST(c.n_docs * 1000 // t.class_n AS BIGINT)
                       AS cell_permille
            FROM cells c JOIN tots t USING (true_lang)
        """,
        # C4 wordlist gate over planted residues — closed-form (the
        # placeholders never occur in the base corpus, verified)
        "badwords_filter": """
            SELECT doc_id,
                   CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
                      + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_flagged_types,
                   CAST(CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 0
                             THEN 0 ELSE 1 END AS BIGINT) AS kept
            FROM documents WHERE text IS NOT NULL
        """,
        # per-source exact-dup card: md5 groups within source
        "dup_rate_by_source": """
            WITH h AS (SELECT source, md5(text) AS hh,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM documents WHERE text IS NOT NULL
                       GROUP BY 1, 2)
            SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_unique,
                   CAST((sum(cnt) - count(*)) * 1000 // sum(cnt)
                        AS BIGINT) AS dup_permille
            FROM h GROUP BY source
        """,
        # NDCG@10 of the shipped ranker: graded rel = distinct query
        # terms present; discount table = the SAME Python-computed
        # integer literals as the Spark side (zero cross-engine logs)
        "ndcg_eval": f"""
            WITH {_bm25_batch_ctes()},
            disc(rnk, w) AS (VALUES {
                ", ".join(f"({r}, {w})" for r, w in A.ndcg_discounts(10))
            }),
            dtok AS (SELECT DISTINCT doc_id, term FROM btok
                     WHERE term IN (SELECT term FROM bq)),
            rel AS (SELECT q.query_id, d.doc_id,
                           CAST(count(*) AS BIGINT) AS rel
                    FROM bq q JOIN dtok d USING (term) GROUP BY 1, 2),
            dcg AS (SELECT r.query_id,
                           CAST(sum(COALESCE(rel.rel, 0) * disc.w)
                                AS BIGINT) AS dcg_micro
                    FROM brk r
                    LEFT JOIN rel ON rel.query_id = r.query_id
                                 AND rel.doc_id = r.doc_id
                    JOIN disc ON disc.rnk = r.rank
                    WHERE r.rank <= 10
                    GROUP BY 1),
            irk AS (SELECT query_id, rel, doc_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY rel DESC, doc_id)
                               AS rnk
                    FROM rel),
            idcg AS (SELECT i.query_id,
                            CAST(sum(i.rel * disc.w) AS BIGINT)
                                AS idcg_micro
                     FROM irk i JOIN disc ON disc.rnk = i.rnk
                     WHERE i.rnk <= 10 GROUP BY 1)
            SELECT d.query_id, d.dcg_micro, i.idcg_micro,
                   CAST(CASE WHEN i.idcg_micro > 0
                        THEN d.dcg_micro * 1000 // i.idcg_micro
                        ELSE 0 END AS BIGINT) AS ndcg_milli
            FROM dcg d JOIN idcg i USING (query_id)
        """,
        # point-in-interval join: the oracle states the range predicate
        # directly (BETWEEN-style join); Spark's chunked equi-join must
        # reproduce it exactly — start inclusive, end exclusive
        "events_interval_join": """
            WITH ev AS (SELECT event_id, user_id, event_type,
                               CAST(epoch_us(ts) AS BIGINT) AS us
                        FROM events),
            a AS (SELECT event_id AS anchor_id, user_id, us AS start_us
                  FROM ev WHERE event_id % 50 = 0)
            SELECT a.anchor_id, a.user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types
            FROM a JOIN ev e ON e.user_id = a.user_id
              AND e.us >= a.start_us AND e.us < a.start_us + 5400000000
            GROUP BY 1, 2
        """,
        # RM1 expansion terms off the shared bm25 chain: top-5 feedback
        # docs per query, own terms anti-joined away
        "prf_terms": f"""
            WITH {_bm25_batch_ctes()},
            fb AS (SELECT query_id, doc_id FROM brk WHERE rank <= 5),
            toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents),
            cand AS (SELECT f.query_id, t.term,
                            CAST(count(*) AS BIGINT) AS tf_sum
                     FROM toks t JOIN fb f USING (doc_id)
                     GROUP BY 1, 2),
            kept AS (SELECT c.* FROM cand c
                     WHERE NOT EXISTS (SELECT 1 FROM bq q
                                       WHERE q.query_id = c.query_id
                                         AND q.term = c.term)),
            rk AS (SELECT query_id, term, tf_sum,
                          CAST(row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY tf_sum DESC, term ASC)
                               AS BIGINT) AS rk
                   FROM kept)
            SELECT query_id, term, tf_sum, rk FROM rk WHERE rk <= 5
        """,
        # interpolated KN bigram LM: bigram/continuation counts ->
        # identical float expression tree, floored micro-nats pre-sum
        "kn_surprisal": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split(text, ' ')) AS tok,
                               generate_subscripts(string_split(text, ' '), 1)
                                   - 1 AS pos
                        FROM documents),
            bgs AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS g
                    FROM tk a JOIN tk b
                      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
            c12t AS (SELECT g, string_split(g, ' ')[1] AS w1,
                            string_split(g, ' ')[2] AS w2,
                            CAST(count(*) AS BIGINT) AS c12
                     FROM bgs GROUP BY g),
            lefts AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                             CAST(count(*) AS BIGINT) AS n1p_l
                      FROM c12t GROUP BY w1),
            rights AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_r
                       FROM c12t GROUP BY w2),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n1p_all FROM c12t),
            ptab AS (SELECT t.g,
                            -CAST(floor(ln(
                                 greatest(t.c12 - CAST(0.75 AS DOUBLE),
                                          CAST(0.0 AS DOUBLE)) / l.c1
                                 + CAST(0.75 AS DOUBLE) * l.n1p_l / l.c1
                                   * r.n1p_r / s.n1p_all)
                                 * 1000000) AS BIGINT) AS nll
                     FROM c12t t JOIN lefts l USING (w1)
                     JOIN rights r USING (w2), tot s)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(nll) AS BIGINT) AS kn_micro
            FROM bgs JOIN ptab USING (g) GROUP BY doc_id
        """,
        # RRF fusion: bm25_batch's brk chain + the exact-cosine ranking
        # of the query doc's own embedding; integer rank fusion
        "hybrid_search": f"""
            WITH {_bm25_batch_ctes()},
            txt AS (SELECT query_id, doc_id, rank AS text_rank
                    FROM brk WHERE rank <= 20),
            qv AS (SELECT e.vec_id AS query_id,
                          CAST(e.embedding AS DOUBLE[]) AS qe
                   FROM embeddings e
                   JOIN (SELECT DISTINCT query_id FROM bq) q
                     ON e.vec_id = q.query_id),
            vc AS (SELECT vec_id AS doc_id,
                          CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings),
            vs AS (SELECT query_id, doc_id,
                          list_cosine_similarity(qe, ce) AS cos
                   FROM qv CROSS JOIN vc WHERE query_id <> doc_id),
            vrk AS (SELECT query_id, doc_id, vec_rank FROM (
                      SELECT query_id, doc_id,
                             CAST(row_number() OVER (
                                  PARTITION BY query_id
                                  ORDER BY round(cos, 4) DESC, doc_id ASC)
                                  AS BIGINT) AS vec_rank
                      FROM vs) WHERE vec_rank <= 20),
            fu AS (SELECT COALESCE(t.query_id, v.query_id) AS query_id,
                          COALESCE(t.doc_id, v.doc_id) AS doc_id,
                          CAST(COALESCE(t.text_rank, 0) AS BIGINT)
                              AS text_rank,
                          CAST(COALESCE(v.vec_rank, 0) AS BIGINT)
                              AS vec_rank,
                          CAST(COALESCE(1000000 // (60 + t.text_rank), 0)
                             + COALESCE(1000000 // (60 + v.vec_rank), 0)
                               AS BIGINT) AS rrf_micro
                   FROM txt t FULL JOIN vrk v
                     ON t.query_id = v.query_id AND t.doc_id = v.doc_id),
            fr AS (SELECT query_id, doc_id, text_rank, vec_rank,
                          rrf_micro,
                          CAST(row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY rrf_micro DESC, doc_id ASC)
                               AS BIGINT) AS rank
                   FROM fu)
            SELECT query_id, doc_id, text_rank, vec_rank, rrf_micro, rank
            FROM fr WHERE rank <= 10
        """,
        # batched BM25 over the %25 planted query set (shared CTE chain)
        "bm25_batch": f"""
            WITH {_bm25_batch_ctes()}
            SELECT query_id, doc_id, score_micro, rank
            FROM brk WHERE rank <= 10
        """,
        # the shipped ranker scored against planted truth; integer
        # reciprocal ranks (1000 // rank)
        "retrieval_eval": f"""
            WITH {_bm25_batch_ctes()},
            topk AS (SELECT * FROM brk WHERE rank <= 10),
            hits AS (SELECT * FROM topk WHERE query_id = doc_id),
            qn AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT)
                       AS n_queries FROM bq),
            ag AS (SELECT CAST(count(*) AS BIGINT) AS n_hits,
                          CAST(COALESCE(sum(CASE WHEN rank = 1
                                            THEN 1 ELSE 0 END), 0)
                               AS BIGINT) AS hits_at_1,
                          CAST(COALESCE(sum(1000 // rank), 0) AS BIGINT)
                              AS rr_milli_sum
                   FROM hits)
            SELECT qn.n_queries, ag.n_hits, ag.hits_at_1, ag.rr_milli_sum
            FROM qn CROSS JOIN ag
        """,
        # list roundtrip: the builder grammar replayed as closed-form
        # rows — ul items 0/1 always, item 2 on %3, the %4 <ol> at
        # list_idx 1 (word-slice via the tables trick)
        "extract_lists_roundtrip": """
            SELECT doc_id, CAST(0 AS INT) AS list_idx, 'ul' AS list_type,
                   CAST(0 AS INT) AS item_idx,
                   'alpha w' || CAST(doc_id % 7 AS VARCHAR) AS item
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, CAST(0 AS INT), 'ul', CAST(1 AS INT),
                   array_to_string(list_slice(string_split(text, ' '), 1, 2),
                                   ' ')
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, CAST(0 AS INT), 'ul', CAST(2 AS INT), 'gamma'
            FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, CAST(1 AS INT), 'ol', CAST(0 AS INT),
                   'first o' || CAST(doc_id % 5 AS VARCHAR)
            FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0
        """,
        # list structure profile: closed-form in the grammar residues
        "list_stats": """
            SELECT doc_id,
                   CAST(1 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_lists,
                   CAST(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                          + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_items,
                   CAST(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS max_list_len
            FROM documents WHERE text IS NOT NULL
        """,
        # Dirichlet QLM: candidates = docs with >=1 term; per-term
        # micro-nat components, every ln argument an integer; terms with
        # cf=0 drop from the sum; mu=2000
        "qlm_search": _QLM_SEARCH_SQL,
        # k-anonymity cells over (lang, source, n_chars div 500);
        # non-negative operands so // ≡ div
        "k_anonymity": """
            SELECT lang, source,
                   CAST(n_chars // 500 AS BIGINT) AS len_band,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT)
                       AS risky
            FROM documents GROUP BY 1, 2, 3
        """,
        # hourly anomaly sweep: integer cross-multiplied z-test over
        # per-type tumbling-hour counts, z=2, observed hours only
        "events_anomaly": """
            WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                              CAST(count(*) AS BIGINT) AS n_events
                       FROM events GROUP BY 1, 2),
            s AS (SELECT event_type,
                         CAST(sum(n_events) AS BIGINT) AS s1,
                         CAST(sum(n_events * n_events) AS BIGINT) AS s2,
                         CAST(count(*) AS BIGINT) AS n_hours
                  FROM c GROUP BY event_type)
            SELECT c.event_type, c.hour, c.n_events, s.n_hours,
                   CAST(sign(s.n_hours * c.n_events - s.s1) AS BIGINT)
                       AS side
            FROM c JOIN s USING (event_type)
            WHERE (s.n_hours * c.n_events - s.s1)
                  * (s.n_hours * c.n_events - s.s1)
                  > 4 * (s.n_hours * s.s2 - s.s1 * s.s1)
        """,
        # OOV audit: val/test token occurrences anti-probed against the
        # train-split vocabulary; md5-bucket split (204/230 thresholds —
        # the split_leakage convention), integer permille
        "oov_rate": f"""
            WITH a AS (SELECT doc_id, lang,
                              CASE WHEN {_hex_int_sql(
                                  "md5(CAST(doc_id AS VARCHAR))", 1, 2)}
                                       < 204 THEN 'train'
                                   WHEN {_hex_int_sql(
                                  "md5(CAST(doc_id AS VARCHAR))", 1, 2)}
                                       < 230 THEN 'val'
                                   ELSE 'test' END AS split
                       FROM documents),
            tk AS (SELECT a.split, a.lang,
                          unnest(string_split(d.text, ' ')) AS g
                   FROM documents d JOIN a USING (doc_id)),
            vocab AS (SELECT DISTINCT g FROM tk WHERE split = 'train'),
            ev AS (SELECT * FROM tk WHERE split <> 'train'),
            o AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_oov
                  FROM ev WHERE g NOT IN (SELECT g FROM vocab)
                  GROUP BY split, lang),
            t AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_tokens
                  FROM ev GROUP BY split, lang)
            SELECT t.split, t.lang, t.n_tokens,
                   CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
                   CAST(COALESCE(o.n_oov, 0) * 1000 // t.n_tokens
                        AS BIGINT) AS oov_permille
            FROM t LEFT JOIN o ON o.split = t.split AND o.lang = t.lang
        """,
        # simhash calibration: capped producer vs the pigeonhole-complete
        # uncapped truth (shared sbands CTE, same hamming<=3 rescore)
        "simhash_eval": f"""
            WITH {_simhash_cte()},
            kept AS (
              SELECT b.* FROM sbands b
              JOIN (SELECT band, bval FROM sbands
                    GROUP BY band, bval HAVING count(*) <= 100) ok
                USING (band, bval)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
              FROM kept a JOIN kept b
                ON a.band = b.band AND a.bval = b.bval
               AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
            truth AS (
              SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
              FROM sbands a JOIN sbands b
                ON a.band = b.band AND a.bval = b.bval
               AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
            cnt AS (SELECT
                (SELECT count(*) FROM truth) AS n_true,
                (SELECT count(*) FROM cand) AS n_cand,
                (SELECT count(*) FROM truth t JOIN cand c
                   ON c.doc_id_a = t.doc_id_a
                  AND c.doc_id_b = t.doc_id_b) AS n_hit)
            SELECT CAST(n_true AS BIGINT) AS n_true,
                   CAST(n_cand AS BIGINT) AS n_cand,
                   CAST(n_hit AS BIGINT) AS n_hit,
                   CAST(n_hit * 1000 // greatest(n_true, 1) AS BIGINT)
                       AS recall_milli,
                   CAST(n_hit * 1000 // greatest(n_cand, 1) AS BIGINT)
                       AS precision_milli
            FROM cnt
        """,
        # recrawl scheduling: lag over the (ts, doc_id) total order —
        # deterministic transition counts on the tie-heavy fixture
        "recrawl_priority": f"""
            WITH {_recrawl_ctes()}
            SELECT url, n_fetches, n_changes, change_milli FROM chg
        """,
        # SCD-2 version history: change-flag cumsum over the (ts, doc_id)
        # total order, valid_to = lead(valid_from) exclusive
        "scd2_intervals": f"""
            WITH {_REVISIT_SNAPS_CTE},
            fl AS (SELECT url, ts, doc_id, digest,
                          CASE WHEN lag(digest) OVER wo IS NULL
                                OR lag(digest) OVER wo <> digest
                               THEN 1 ELSE 0 END AS chg
                   FROM s
                   WINDOW wo AS (PARTITION BY url
                                 ORDER BY ts ASC, doc_id ASC)),
            vr AS (SELECT url, ts, digest,
                          sum(chg) OVER (PARTITION BY url
                              ORDER BY ts ASC, doc_id ASC
                              ROWS UNBOUNDED PRECEDING) AS v
                   FROM fl),
            gr AS (SELECT url, v, min(digest) AS digest,
                          CAST(min(ts) AS BIGINT) AS valid_from,
                          CAST(count(*) AS BIGINT) AS n_fetches
                   FROM vr GROUP BY url, v)
            SELECT url, CAST(v AS BIGINT) AS version, digest, valid_from,
                   CAST(lead(valid_from) OVER wv AS BIGINT) AS valid_to,
                   n_fetches,
                   CASE WHEN lead(valid_from) OVER wv IS NULL
                        THEN 1 ELSE 0 END AS is_current
            FROM gr
            WINDOW wv AS (PARTITION BY url ORDER BY v ASC)
        """,
        # embedding-LSH calibration: shipped capped candidate stage vs the
        # exact cosine truth (list_cosine_similarity, 4dp inclusion)
        "embedding_lsh_eval": f"""
            WITH {_EMB_BANDS_CTE},
            bsz AS (SELECT band, bkey, count(*) AS nb
                    FROM bands GROUP BY band, bkey),
            kept AS (SELECT b.vec_id, b.band, b.bkey
                     FROM bands b JOIN bsz USING (band, bkey)
                     WHERE nb <= 60),
            cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                     FROM kept a JOIN kept b
                       ON a.band = b.band AND a.bkey = b.bkey
                      AND a.vec_id < b.vec_id),
            truth AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                      FROM embeddings a JOIN embeddings b
                        ON a.vec_id < b.vec_id
                      WHERE round(list_cosine_similarity(
                              CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])), 4) >= 0.35),
            cnt AS (SELECT
                (SELECT count(*) FROM truth) AS n_true,
                (SELECT count(*) FROM cand) AS n_cand,
                (SELECT count(*) FROM truth t JOIN cand c
                   ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hit)
            SELECT CAST(n_true AS BIGINT) AS n_true,
                   CAST(n_cand AS BIGINT) AS n_cand,
                   CAST(n_hit AS BIGINT) AS n_hit,
                   CAST(n_hit * 1000 // greatest(n_true, 1) AS BIGINT)
                       AS recall_milli,
                   CAST(n_hit * 1000 // greatest(n_cand, 1) AS BIGINT)
                       AS precision_milli
            FROM cnt
        """,
        # weighted Bernoulli keep: u32(md5) * w_max < w * 2^32, all BIGINT
        "weighted_sample": f"""
            SELECT doc_id, CAST(least(n_chars, 300) AS BIGINT) AS w
            FROM documents
            WHERE {_hex_int_sql(
                "md5('ws0:' || CAST(doc_id AS VARCHAR))", 1, 8)} * 300
                  < CAST(least(n_chars, 300) AS BIGINT) * 4294967296
        """,
        "stopword_lists": """
            WITH dt AS (SELECT DISTINCT lang AS grp, doc_id, tok
                        FROM (SELECT lang, doc_id,
                                     unnest(string_split(text, ' ')) AS tok
                              FROM documents)),
            dfq AS (SELECT grp, tok, CAST(count(*) AS BIGINT) AS df
                    FROM dt GROUP BY grp, tok),
            nd AS (SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY lang)
            SELECT dfq.grp, dfq.tok, dfq.df, nd.n_docs
            FROM dfq JOIN nd ON nd.grp = dfq.grp
            WHERE dfq.df * 100 >= 60 * nd.n_docs
        """,
        # shard skew audit: epoch_shuffle shard convention, UTF-8 octet
        # bytes, global max*1000 // mean stamped per row
        "shard_skew_report": f"""
            WITH per AS (SELECT
                {_hex_int_sql(
                    "md5('epoch0:' || CAST(doc_id AS VARCHAR))", 1, 8)}
                    % 32 AS shard,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT)
                    AS n_bytes
                FROM documents GROUP BY 1),
            tot AS (SELECT CAST(max(n_bytes) AS BIGINT) AS mx,
                           CAST(sum(n_bytes) AS BIGINT) AS tb,
                           CAST(count(*) AS BIGINT) AS ns
                    FROM per)
            SELECT shard, n_rows, n_bytes,
                   CAST(mx * 1000 // greatest(tb // ns, 1) AS BIGINT)
                       AS skew_milli
            FROM per, tot
        """,
        # LSH calibration: capped-bucket candidate pairs vs the exact
        # jaccard join (shared sh/sig/inter CTEs) at threshold 1/2
        "lsh_eval": f"""
            WITH {_SHINGLE_CTE}, {_SIG_CTE},
            {_BANDS_CTE},
            okb AS (SELECT band, bucket FROM bands GROUP BY band, bucket
                    HAVING count(*) > 1 AND count(*) <= 100),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM bands a
                     JOIN bands b ON a.band = b.band
                                 AND a.bucket = b.bucket
                                 AND a.doc_id < b.doc_id
                     JOIN okb ON okb.band = a.band
                             AND okb.bucket = a.bucket),
            {_PAIR_INTER_CTES},
            truth AS (SELECT doc_a, doc_b FROM inter
                      JOIN sizes sa ON sa.doc_id = doc_a
                      JOIN sizes sb ON sb.doc_id = doc_b
                      WHERE intersection * 2
                            >= (sa.sz + sb.sz - intersection) * 1),
            cnt AS (SELECT
                (SELECT count(*) FROM truth) AS n_true,
                (SELECT count(*) FROM cand) AS n_cand,
                (SELECT count(*) FROM truth t JOIN cand c
                   ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_hit)
            SELECT CAST(n_true AS BIGINT) AS n_true,
                   CAST(n_cand AS BIGINT) AS n_cand,
                   CAST(n_hit AS BIGINT) AS n_hit,
                   CAST(n_hit * 1000 // greatest(n_true, 1) AS BIGINT)
                       AS recall_milli,
                   CAST(n_hit * 1000 // greatest(n_cand, 1) AS BIGINT)
                       AS precision_milli
            FROM cnt
        """,
        # mirror detection: per-host (n_docs, 40-bit text-hash sum)
        # digest equality join; m0..m4 clone h0..h4
        "mirror_hosts": f"""
            WITH hd AS (
              SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host, text
              FROM documents
              UNION ALL
              SELECT 'm' || CAST(doc_id % 20 AS VARCHAR), text
              FROM documents WHERE doc_id % 20 < 5),
            dig AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum({_hex_int_sql("md5(text)", 1, 10)})
                                AS BIGINT) AS content_sum
                    FROM hd GROUP BY host)
            SELECT a.host AS host_a, b.host AS host_b,
                   a.n_docs, a.content_sum
            FROM dig a JOIN dig b
              ON a.n_docs = b.n_docs AND a.content_sum = b.content_sum
             AND a.host < b.host
        """,
        "kmv_sketches": f"""
            WITH {_kmv_ctes(32)}
            SELECT grp, pos, hv FROM sk
        """,
        # sub-k groups report exact counts; divisions ordered to stay
        # in LongType ((k-1)*2^40 ~ 3.4e13)
        "kmv_estimate": f"""
            WITH {_kmv_ctes(32)},
            agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
                           CAST(max(hv) AS BIGINT) AS hk
                    FROM sk GROUP BY grp)
            SELECT grp, n_kept,
                   CASE WHEN n_kept < 32 THEN n_kept
                        ELSE 31 * 1099511627776 // greatest(hk, 1)
                   END AS distinct_est
            FROM agg
        """,
        # KMV resemblance: k smallest of the union sketch, membership
        # flags max-merged, integer milli estimate
        "kmv_lang_jaccard": f"""
            WITH {_kmv_ctes(32)},
            grps AS (SELECT DISTINCT grp FROM sk),
            pr AS (SELECT x.grp AS grp_a, y.grp AS grp_b
                   FROM grps x JOIN grps y ON x.grp < y.grp),
            un AS (SELECT grp_a, grp_b, hv,
                          CAST(max(in_a) AS INT) AS in_a,
                          CAST(max(in_b) AS INT) AS in_b
                   FROM (
                     SELECT pr.grp_a, pr.grp_b, s.hv,
                            1 AS in_a, 0 AS in_b
                     FROM pr JOIN sk s ON s.grp = pr.grp_a
                     UNION ALL
                     SELECT pr.grp_a, pr.grp_b, s.hv, 0, 1
                     FROM pr JOIN sk s ON s.grp = pr.grp_b)
                   GROUP BY grp_a, grp_b, hv),
            unk AS (SELECT * FROM (
                      SELECT grp_a, grp_b, in_a, in_b,
                             CAST(row_number() OVER (
                                  PARTITION BY grp_a, grp_b
                                  ORDER BY hv) AS INT) AS pos
                      FROM un)
                    WHERE pos <= 32)
            SELECT grp_a, grp_b,
                   CAST(count(*) AS BIGINT) AS n_union,
                   CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
                   CAST(sum(in_a * in_b) * 1000 // count(*) AS BIGINT)
                       AS jaccard_est_milli
            FROM unk GROUP BY grp_a, grp_b
        """,
        # composed crawl-lifecycle chain: revisit 'response' dedup →
        # Last-Modified recency (day >= 19905 == 2024-07-01, malformed
        # NULL days drop) → quality gate → survivors' digest
        "curation_v7": f"""
            WITH {_REVISIT_SNAPS_CTE},
            fst AS (SELECT url, digest,
                           CAST(min(ts * 1048576 + doc_id) AS BIGINT) AS fp
                    FROM s GROUP BY url, digest),
            resp AS (SELECT s.doc_id FROM s JOIN fst
                       ON fst.url = s.url AND fst.digest = s.digest
                     WHERE s.ts * 1048576 + s.doc_id = fst.fp),
            d1 AS (SELECT d.* FROM documents d
                   JOIN resp ON resp.doc_id = d.doc_id),
            h AS (SELECT doc_id, {_HTTP_HDR_CASE} AS lm FROM d1),
            pe AS (SELECT doc_id,
                          {_HTTP_EPOCH_SQL.format(col="lm")} AS ep
                   FROM h),
            d2 AS (SELECT d1.doc_id, d1.lang, d1.text
                   FROM d1 JOIN pe ON pe.doc_id = d1.doc_id
                   WHERE pe.ep IS NOT NULL AND pe.ep // 86400 >= 19905),
            q AS ({_qf_cols_sql('d2')}),
            d3 AS (SELECT d2.doc_id, d2.lang, d2.text
                   FROM d2 JOIN q ON q.doc_id = d2.doc_id
                   WHERE NOT {_QF_BAD_SQL})
            SELECT lang AS grp, doc_id % 8 AS shard,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum({_hex_int_sql(
                       "md5(CAST(doc_id AS VARCHAR) || ':' || text)",
                       1, 10)}) AS BIGINT) AS content_sum
            FROM d3
            GROUP BY lang, doc_id % 8
        """,
        # Sitemap directives: comment-strip BEFORE match, strict
        # lowercase 'sitemap:' prefix after trim, lowercased host,
        # pos = row_number among surviving lines in document order
        "robots_sitemaps": """
            WITH hs AS (SELECT DISTINCT doc_id % 9 AS h FROM documents),
            r AS (SELECT 'H' || CAST(h AS VARCHAR) || '.Example' AS host,
                         '# robots preamble' || chr(13) || chr(10)
                         || 'User-agent: *' || chr(13) || chr(10)
                         || 'Disallow: /x' || chr(13) || chr(10)
                         || 'Sitemap: https://h' || CAST(h AS VARCHAR)
                         || '.example/sitemap.xml' || chr(13) || chr(10)
                         || CASE WHEN h % 2 = 0 THEN
                              'sitemap: https://h' || CAST(h AS VARCHAR)
                              || '.example/extra.xml' || chr(10)
                            ELSE '' END
                         || '# Sitemap: https://ignored.example/no.xml'
                         || chr(10)
                         || CASE WHEN h % 3 = 0 THEN
                              'SITEMAP: https://h' || CAST(h AS VARCHAR)
                              || '.example/upper.xml' || chr(10)
                            ELSE '' END AS robots_txt
                  FROM hs),
            p AS (SELECT lower(host) AS host,
                         string_split(robots_txt, chr(10)) AS parts
                  FROM r),
            ls AS (SELECT host, parts,
                          unnest(generate_series(1, len(parts))) AS ln
                   FROM p),
            cl AS (SELECT host, ln,
                          trim(regexp_replace(regexp_replace(parts[ln],
                              '#.*', ''), chr(13), '', 'g')) AS clean
                   FROM ls),
            keep AS (SELECT host, ln,
                            trim(substr(clean, 9)) AS sitemap_url
                     FROM cl WHERE lower(clean) LIKE 'sitemap:%')
            SELECT host,
                   CAST(row_number() OVER (PARTITION BY host ORDER BY ln)
                        AS INT) AS pos,
                   sitemap_url
            FROM keep
        """,
        # RFC 1123 parsing, weekday-stripped (Spark cannot parse EEE;
        # the field is redundant per RFC 7231) — measured identical
        # epochs; malformed rows NULL via try_strptime
        "http_dates": f"""
            WITH hdrs AS (SELECT doc_id,
                {_HTTP_HDR_CASE} AS last_modified
                FROM documents),
            p AS (SELECT doc_id,
                         {_HTTP_EPOCH_SQL.format(col="last_modified")}
                             AS epoch
                  FROM hdrs)
            SELECT doc_id, epoch,
                   CAST(epoch // 86400 AS BIGINT) AS day
            FROM p
        """,
        # RSS/Atom discovery: every row predicted from the builder
        # formula (generate_series is end-INCLUSIVE == Spark sequence)
        "feed_urls": """
            WITH hs AS (SELECT DISTINCT doc_id % 11 AS h FROM documents),
            it AS (SELECT h, unnest(generate_series(0, h % 3)) AS i
                   FROM hs)
            SELECT 'h' || CAST(h AS VARCHAR) || '.example' AS host,
                   CAST(i AS INT) AS pos,
                   CASE WHEN h % 2 = 0
                        THEN 'https://h' || CAST(h AS VARCHAR)
                             || '.example/rss/' || CAST(i AS VARCHAR)
                        ELSE 'https://h' || CAST(h AS VARCHAR)
                             || '.example/atom/' || CAST(i AS VARCHAR)
                   END AS link,
                   CASE WHEN h % 2 = 0
                        THEN 'T' || CAST(h AS VARCHAR) || '_'
                             || CAST(i AS VARCHAR)
                        ELSE 'A' || CAST(h AS VARCHAR) || '_'
                             || CAST(i AS VARCHAR)
                   END AS title,
                   CASE WHEN h % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind
            FROM it
        """,
        # WARC revisit synthesis: packed min(ts*2^20+id) argmin per
        # (url, digest); // 1048576 == shiftright(,20) on positives
        "warc_revisit": f"""
            WITH {_REVISIT_SNAPS_CTE},
            f AS (SELECT url, digest,
                         CAST(min(ts * 1048576 + doc_id) AS BIGINT) AS fp
                  FROM s GROUP BY url, digest)
            SELECT s.url, s.doc_id, s.ts,
                   CASE WHEN s.ts * 1048576 + s.doc_id = f.fp
                        THEN 'response' ELSE 'revisit' END AS kind,
                   CASE WHEN s.ts * 1048576 + s.doc_id = f.fp
                        THEN NULL
                        ELSE CAST(f.fp % 1048576 AS BIGINT) END
                       AS refers_id,
                   CASE WHEN s.ts * 1048576 + s.doc_id = f.fp
                        THEN NULL
                        ELSE CAST(f.fp // 1048576 AS BIGINT) END
                       AS refers_ts
            FROM s JOIN f ON f.url = s.url AND f.digest = s.digest
        """,
        # co-citation with the out-degree cap ACTIVE (hubs outdeg>4
        # dropped; the overflow twin lists them)
        "co_citation": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            keep AS (SELECT src FROM od WHERE outdeg <= 4),
            e2 AS (SELECT e1.src, e1.dst FROM e1
                   JOIN keep ON keep.src = e1.src)
            SELECT a.dst AS dst_a, b.dst AS dst_b,
                   CAST(count(*) AS BIGINT) AS n_sources
            FROM e2 a JOIN e2 b ON a.src = b.src AND a.dst < b.dst
            GROUP BY a.dst, b.dst
            HAVING count(*) >= 1
        """,
        "co_citation_overflow": f"""
            WITH {_RING_AFFINE_HUB_CTE}
            SELECT src, outdeg FROM od WHERE outdeg > 4
        """,
        # Adamic–Adar: per-node quantized 1/ln(deg) weights (identical
        # float expression tree; ln-of-integer convention), integer pair
        # sums, existing undirected edges anti-joined away
        "adamic_adar": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            und AS (SELECT DISTINCT least(src, dst) AS lo,
                                    greatest(src, dst) AS hi FROM e1),
            inc AS (SELECT lo AS z, hi AS nb FROM und
                    UNION ALL SELECT hi, lo FROM und),
            dg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg
                   FROM inc GROUP BY z),
            w AS (SELECT z, CAST(floor(CAST(1000000 AS DOUBLE)
                                       / ln(CAST(deg AS DOUBLE)))
                               AS BIGINT) AS w_micro
                  FROM dg WHERE deg >= 2 AND deg <= 8),
            cn AS (SELECT i.z, i.nb, w.w_micro FROM inc i JOIN w USING (z)),
            sc AS (SELECT a.nb AS a, b.nb AS b,
                          CAST(count(*) AS BIGINT) AS n_common,
                          CAST(sum(a.w_micro) AS BIGINT) AS score_micro
                   FROM cn a JOIN cn b ON a.z = b.z AND a.nb < b.nb
                   GROUP BY 1, 2)
            SELECT s.a, s.b, s.n_common, s.score_micro
            FROM sc s LEFT JOIN und u ON u.lo = s.a AND u.hi = s.b
            WHERE u.lo IS NULL
        """,
        "adamic_adar_overflow": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            und AS (SELECT DISTINCT least(src, dst) AS lo,
                                    greatest(src, dst) AS hi FROM e1),
            dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                   FROM (SELECT lo AS node FROM und
                         UNION ALL SELECT hi FROM und)
                   GROUP BY node)
            SELECT node, deg FROM dg WHERE deg > 8
        """,
        # distinct l-diversity: per-user rollup then cell rollup — the
        # oracle states the same two-level aggregation
        "l_diversity": """
            WITH pu AS (SELECT event_type,
                               CAST(hour(ts) AS BIGINT) AS hod, user_id,
                               CAST(count(*) AS BIGINT) AS c
                        FROM events GROUP BY 1, 2, 3)
            SELECT event_type, hod,
                   CAST(sum(c) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(CASE WHEN count(*) < 3 THEN 1 ELSE 0 END
                        AS BIGINT) AS risky
            FROM pu GROUP BY 1, 2
        """,
        # FORCAST readability: vowel-group syllable heuristic, identical
        # character-class regex under Java regex and RE2
        "readability": """
            WITH toks AS (SELECT doc_id, lang,
                                 unnest(string_split(text, ' ')) AS t
                          FROM documents),
            syls AS (SELECT doc_id, lang,
                            CAST(length(regexp_extract_all(lower(t),
                                 '[aeiouy]+')) AS BIGINT) AS syl
                     FROM toks WHERE t <> ''),
            agg AS (SELECT doc_id, lang,
                           CAST(count(*) AS BIGINT) AS n_words,
                           CAST(sum(CASE WHEN syl = 1 THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_mono,
                           CAST(sum(syl) AS BIGINT) AS n_syllables
                    FROM syls GROUP BY 1, 2)
            SELECT doc_id, lang, n_words, n_mono, n_syllables,
                   CAST(20000 - n_mono * 15000 // greatest(n_words, 1)
                        AS BIGINT) AS forcast_milli
            FROM agg
        """,
        # ordered-EMD t-closeness: per-band probs quantized to floored
        # micro-units FIRST (all div operands non-negative, so Spark div
        # ≡ DuckDB //), then t_micro = sum|cumsum| // (m-1) — zero
        # float ops, the statistic IS the integer formula
        "t_closeness": """
            WITH bb AS (SELECT lang, source,
                               CAST(n_chars AS BIGINT) // 50 AS b
                        FROM documents),
            g AS (SELECT b, CAST(count(*) AS BIGINT) AS gq
                  FROM bb GROUP BY b),
            t AS (SELECT CAST(sum(gq) AS BIGINT) AS gn,
                         CAST(count(*) AS BIGINT) AS m FROM g),
            c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS cn
                  FROM bb GROUP BY 1, 2),
            cb AS (SELECT lang, source, b,
                          CAST(count(*) AS BIGINT) AS cq
                   FROM bb GROUP BY 1, 2, 3),
            d AS (SELECT c.lang, c.source, g.b, c.cn, t.m,
                         coalesce(cb.cq, 0) * 1000000 // c.cn
                           - g.gq * 1000000 // t.gn AS d
                  FROM c CROSS JOIN g CROSS JOIN t
                  LEFT JOIN cb ON cb.lang = c.lang
                             AND cb.source = c.source AND cb.b = g.b),
            cum AS (SELECT lang, source, cn, m,
                           sum(d) OVER (PARTITION BY lang, source
                                        ORDER BY b) AS cum
                    FROM d)
            SELECT lang, source, max(cn) AS n_docs,
                   CAST(sum(abs(cum)) // max(CASE WHEN m > 1 THEN m - 1
                                             ELSE 1 END) AS BIGINT)
                       AS t_micro,
                   CAST(CASE WHEN sum(abs(cum)) //
                                  max(CASE WHEN m > 1 THEN m - 1
                                      ELSE 1 END) > 200000
                             THEN 1 ELSE 0 END AS BIGINT) AS risky
            FROM cum GROUP BY lang, source
        """,
        "degree_histogram": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            idg AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg
                    FROM e1 GROUP BY dst)
            SELECT 'out' AS direction, outdeg AS degree,
                   CAST(count(*) AS BIGINT) AS n_nodes
            FROM od GROUP BY outdeg
            UNION ALL
            SELECT 'in', indeg, CAST(count(*) AS BIGINT)
            FROM idg GROUP BY indeg
        """,
        # Zipf OLS: deci-milli-nat quantized ln (x=ln rank, y=ln cnt),
        # integer cross-products, positive-operand-only divisions with
        # the +B*n offset (B=2^40) for the signed intercept mean
        "zipf_fit": f"""
            WITH uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                         FROM (SELECT unnest(string_split(text, ' '))
                                   AS tok FROM documents)
                         GROUP BY tok),
            top AS (SELECT * FROM uni
                    ORDER BY cnt DESC, tok ASC LIMIT 256),
            ranked AS (SELECT cnt,
                              CAST(row_number() OVER (ORDER BY cnt DESC,
                                   tok ASC) AS BIGINT) AS rank
                       FROM top),
            pts AS (SELECT
                CAST(floor(ln(CAST(rank AS DOUBLE))
                           * CAST(10000 AS DOUBLE)) AS BIGINT) AS x,
                CAST(floor(ln(CAST(cnt AS DOUBLE))
                           * CAST(10000 AS DOUBLE)) AS BIGINT) AS y
                    FROM ranked),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx
                  FROM pts)
            {_ols_tail_sql("n_terms")}
        """,
        # redirect resolution: recursive chain walk capped at 16 steps
        # (== Spark's 4 pointer-doubling rounds); final = packed
        # (step, dst) argmax, terminals absorb; cycle rows cap out and
        # come back unresolved
        "redirect_resolve": """
            WITH RECURSIVE nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                                  FROM documents),
            red AS (SELECT doc_id AS src, doc_id - 1 AS dst
                    FROM documents WHERE doc_id % 16 <> 0
                    UNION ALL SELECT n, n + 1 FROM nn
                    UNION ALL SELECT n + 1, n FROM nn),
            r AS (SELECT src, dst, CAST(1 AS BIGINT) AS step FROM red
                  UNION ALL
                  SELECT r.src, m.dst, r.step + 1
                  FROM r JOIN red m ON m.src = r.dst
                  WHERE r.step < 16),
            fin AS (SELECT src,
                           CAST(max(step * 4294967296 + dst)
                                % 4294967296 AS BIGINT) AS final
                    FROM r GROUP BY src)
            SELECT src, final,
                   CAST(CASE WHEN final IN (SELECT src FROM red)
                             THEN 0 ELSE 1 END AS INT) AS resolved
            FROM fin
        """,
        # per-(lang, shard) content digest: 40-bit md5 row hash summed
        # (order-free); _hex_int_sql == Spark conv(substring(md5,1,10))
        "dataset_digest": f"""
            SELECT lang AS grp, doc_id % 16 AS shard,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum({_hex_int_sql(
                       "md5(CAST(doc_id AS VARCHAR) || ':' || text)",
                       1, 10)}) AS BIGINT) AS content_sum
            FROM documents
            GROUP BY lang, doc_id % 16
        """,
        # triangle counting: degree-ordered orientation with the packed
        # (deg*2^32+node) total-order key; UNION ALL degree stream and
        # CASE orientation mirror the Spark side expression-for-expression
        "triangle_count": f"""
            WITH {_TRI_CTES}
            SELECT node, triangles FROM tric
        """,
        # local clustering coefficient: the same triangle chain LEFT
        # JOINed back to the plain degree table; all operands
        # non-negative so Spark div == DuckDB //
        "clustering_coefficient": f"""
            WITH {_TRI_CTES}
            SELECT d.node, d.deg,
                   CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
                   (CAST(COALESCE(t.triangles, 0) AS BIGINT) * 2000)
                       // (d.deg * (d.deg - 1)) AS cc_milli
            FROM degp d LEFT JOIN tric t ON t.node = d.node
            WHERE d.deg >= 2
        """,
        # Newman assortativity as the symmetric-orientation integer OLS
        # slope (== Pearson r) with the zipf_fit staged signed division
        "degree_assortativity": f"""
            WITH {_RING_AFFINE_HUB_CTE},
            undg AS (SELECT DISTINCT least(src, dst) AS lo,
                                     greatest(src, dst) AS hi
                     FROM e1),
            degp AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                     FROM (SELECT lo AS node FROM undg
                           UNION ALL SELECT hi FROM undg)
                     GROUP BY node),
            pr AS (SELECT dl.deg AS x, dh.deg AS y
                   FROM undg
                   JOIN degp dl ON dl.node = undg.lo
                   JOIN degp dh ON dh.node = undg.hi),
            bo AS (SELECT x, y FROM pr UNION ALL SELECT y, x FROM pr),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx
                  FROM bo),
            mg AS (SELECT n,
                          CASE WHEN n * sxx - sx * sx <= 9000000000000
                          THEN (abs(n * sxy - sx * sy) * 1000000)
                               // greatest(n * sxx - sx * sx, 1)
                          ELSE (abs(n * sxy - sx * sy) * 1000)
                               // ((n * sxx - sx * sx) // 1000)
                          END AS mag,
                          n * sxy - sx * sy AS num
                   FROM s)
            SELECT n AS n_endpoints,
                   CASE WHEN num < 0 THEN -mag ELSE mag END
                       AS assort_micro
            FROM mg
        """,
        # per-source reciprocity over the ring+back-edge fixture: mutual
        # = edges whose exact reversal exists; COALESCE keeps one-way
        # sources at 0 instead of dropping them
        "link_reciprocity": """
            WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                        FROM documents),
            e0 AS (SELECT doc_id AS src, (doc_id + 1) % n AS dst
                   FROM documents, nn
                   UNION ALL
                   SELECT doc_id, (doc_id + n - 1) % n
                   FROM documents, nn WHERE doc_id % 3 = 0),
            e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e1 GROUP BY src),
            mut AS (SELECT a.src, CAST(count(*) AS BIGINT) AS mutual
                    FROM e1 a JOIN e1 b
                      ON b.src = a.dst AND b.dst = a.src
                    GROUP BY a.src)
            SELECT od.src AS node, od.outdeg,
                   CAST(COALESCE(mut.mutual, 0) AS BIGINT) AS mutual,
                   (CAST(COALESCE(mut.mutual, 0) AS BIGINT) * 1000)
                       // od.outdeg AS recip_milli
            FROM od LEFT JOIN mut ON mut.src = od.src
        """,
        # PMI-lift collocations: all-integer staged divisions, ordered
        # EXACTLY as the Spark expr (x1 = n_ab*1000*tu // ca, x2 = x1*tu
        # // cb, lift = x2 // tb); `div` == `//` on positives
        "pmi_collocations": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            gs AS (SELECT doc_id,
                          unnest(list_transform(
                              generate_series(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1])) AS g
                   FROM w WHERE len(ws) >= 2),
            big AS (SELECT g, CAST(count(*) AS BIGINT) AS n_ab
                    FROM gs GROUP BY g HAVING count(*) >= 5),
            tok AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents),
            uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
                    FROM tok GROUP BY w),
            tus AS (SELECT CAST(sum(cu) AS BIGINT) AS tu FROM uni),
            tbs AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM gs),
            lifted AS (
              SELECT big.g AS bigram, big.n_ab,
                     CAST(((big.n_ab * 1000 * tu) // ua.cu * tu)
                          // ub.cu // tb AS BIGINT) AS lift_milli
              FROM big
              JOIN uni ua ON ua.w = split_part(big.g, ' ', 1)
              JOIN uni ub ON ub.w = split_part(big.g, ' ', 2)
              CROSS JOIN tus CROSS JOIN tbs),
            topk AS (SELECT * FROM lifted
                     ORDER BY lift_milli DESC, bigram ASC LIMIT 50)
            SELECT bigram, n_ab, lift_milli,
                   CAST(row_number() OVER (ORDER BY lift_milli DESC,
                                           bigram ASC) AS INT) AS rank
            FROM topk
        """,
        # impact-ordered postings: per-term top-r by (tf DESC, doc_id)
        "champion_lists": """
            WITH tf AS (SELECT term, doc_id,
                               CAST(count(*) AS BIGINT) AS tf
                        FROM (SELECT doc_id,
                                     unnest(string_split(text, ' '))
                                         AS term
                              FROM documents)
                        GROUP BY term, doc_id)
            SELECT term, doc_id, tf, rank FROM (
                SELECT term, doc_id, tf,
                       CAST(row_number() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id ASC) AS INT) AS rank
                FROM tf)
            WHERE rank <= 3
        """,
        # champion-list retrieval calibration: pruned (r=2) vs exact
        # tf-sum top-10 for the 3-term query, scored in-engine
        "champion_search_eval": """
            WITH tf AS (SELECT term, doc_id,
                               CAST(count(*) AS BIGINT) AS tf
                        FROM (SELECT doc_id,
                                     unnest(string_split(text, ' '))
                                         AS term
                              FROM documents)
                        WHERE term IN ('table', 'scan', 'data')
                        GROUP BY term, doc_id),
            ch AS (SELECT term, doc_id, tf FROM (
                       SELECT term, doc_id, tf,
                              row_number() OVER (PARTITION BY term
                                  ORDER BY tf DESC, doc_id ASC) AS rr
                       FROM tf)
                   WHERE rr <= 2),
            ex AS (SELECT doc_id FROM (
                       SELECT doc_id, sum(tf) AS score FROM tf
                       GROUP BY doc_id)
                   ORDER BY score DESC, doc_id ASC LIMIT 10),
            cq AS (SELECT doc_id FROM (
                       SELECT doc_id, sum(tf) AS score FROM ch
                       GROUP BY doc_id)
                   ORDER BY score DESC, doc_id ASC LIMIT 10),
            m AS (SELECT (SELECT count(*) FROM ex) AS n_exact,
                         (SELECT count(*) FROM cq) AS n_champ,
                         (SELECT count(*) FROM ex JOIN cq USING (doc_id))
                             AS n_common)
            SELECT CAST(10 AS INT) AS k, CAST(2 AS INT) AS r,
                   CAST(n_exact AS BIGINT) AS n_exact,
                   CAST(n_champ AS BIGINT) AS n_champ,
                   CAST(n_common AS BIGINT) AS n_common,
                   CAST(n_common * 1000 // greatest(n_exact, 1)
                        AS BIGINT) AS recall_milli
            FROM m
        """,
        # Morton-curve layout manifest: min-max bucketize + bit
        # interleave + equal-width file ranges, per-file zone map
        "zorder_layout": f"""
            WITH {_zorder_ctes("", False, 8, 16)}
            SELECT CAST(file_id AS BIGINT) AS file_id, n_rows,
                   min_x, max_x, min_y, max_y
            FROM mf
        """,
        # Hilbert manifest: unrolled xy2d descent, same head/tail as
        # the z-order chain
        "hilbert_layout": f"""
            WITH {_hilbert_ctes("", 8, 16)}
            SELECT CAST(file_id AS BIGINT) AS file_id, n_rows,
                   min_x, max_x, min_y, max_y
            FROM mh
        """,
        # zone-map area+perimeter card over all three layout chains at
        # n_files=12 (a power of 4 makes the two curves tie — measured)
        "layout_locality": f"""
            WITH {_zorder_ctes("l", True, 8, 12)},
            {_zorder_ctes("z", False, 8, 12)},
            {_hilbert_ctes("h", 8, 12)}
            SELECT 'linear' AS layout,
                   CAST(count(*) AS BIGINT) AS n_files_total,
                   CAST(sum((max_x - min_x + 1) * (max_y - min_y + 1))
                        AS BIGINT) AS total_area,
                   CAST(sum((max_x - min_x + 1) + (max_y - min_y + 1))
                        AS BIGINT) AS total_perimeter
            FROM mfl
            UNION ALL
            SELECT 'zorder',
                   CAST(count(*) AS BIGINT),
                   CAST(sum((max_x - min_x + 1) * (max_y - min_y + 1))
                        AS BIGINT),
                   CAST(sum((max_x - min_x + 1) + (max_y - min_y + 1))
                        AS BIGINT)
            FROM mfz
            UNION ALL
            SELECT 'hilbert',
                   CAST(count(*) AS BIGINT),
                   CAST(sum((max_x - min_x + 1) * (max_y - min_y + 1))
                        AS BIGINT),
                   CAST(sum((max_x - min_x + 1) + (max_y - min_y + 1))
                        AS BIGINT)
            FROM mhh
        """,
        # zone-map skipping for the (users 3..7, Jan 8-14) box:
        # z-order vs sort-by-x layouts, one row each
        "zorder_pruning": f"""
            WITH {_zorder_ctes("z", False, 8, 16)},
            {_zorder_ctes("l", True, 8, 16)},
            hz AS (SELECT CAST(count(*) AS BIGINT) AS n_files_total,
                          CAST(sum(CASE WHEN max_x >= 0 AND min_x <= 1000000000
                                    AND max_y >= 1704672000
                                    AND min_y <= 1705276799
                                    THEN 1 ELSE 0 END) AS BIGINT)
                              AS files_hit
                   FROM mfz),
            hl AS (SELECT CAST(count(*) AS BIGINT) AS n_files_total,
                          CAST(sum(CASE WHEN max_x >= 0 AND min_x <= 1000000000
                                    AND max_y >= 1704672000
                                    AND min_y <= 1705276799
                                    THEN 1 ELSE 0 END) AS BIGINT)
                              AS files_hit
                   FROM mfl)
            SELECT 'zorder' AS layout, n_files_total, files_hit,
                   files_hit * 1000 // n_files_total AS hit_milli
            FROM hz
            UNION ALL
            SELECT 'linear' AS layout, n_files_total, files_hit,
                   files_hit * 1000 // n_files_total AS hit_milli
            FROM hl
        """,
        # RFM coding: integer metrics + ccnet nearest-rank tercile cuts
        # from distinct-value histograms; recency score inverted
        "rfm_segments": """
            WITH ue AS (SELECT user_id, CAST(ts AS DATE) AS d,
                               CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
            per AS (SELECT user_id, max(d) AS last_day,
                           CAST(count(*) AS BIGINT) AS freq,
                           CAST(sum(vc) AS BIGINT) AS money_cents
                    FROM ue GROUP BY user_id),
            anc AS (SELECT max(d) AS anchor_day FROM ue),
            met AS (SELECT user_id,
                           CAST(date_diff('day', last_day, anchor_day)
                                AS BIGINT) AS recency_days,
                           freq, money_cents
                    FROM per, anc),
            nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM met),
            rh AS (SELECT recency_days AS v, count(*) AS cnt
                   FROM met GROUP BY 1),
            rc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM rh),
            rcut AS (SELECT
                     min(CASE WHEN cum >= (n + 2) // 3 THEN v END) AS t1,
                     min(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END) AS t2
                     FROM rc, nu),
            fh AS (SELECT freq AS v, count(*) AS cnt FROM met GROUP BY 1),
            fc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM fh),
            fcut AS (SELECT
                     min(CASE WHEN cum >= (n + 2) // 3 THEN v END) AS t1,
                     min(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END) AS t2
                     FROM fc, nu),
            mh AS (SELECT money_cents AS v, count(*) AS cnt
                   FROM met GROUP BY 1),
            mc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM mh),
            mcut AS (SELECT
                     min(CASE WHEN cum >= (n + 2) // 3 THEN v END) AS t1,
                     min(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END) AS t2
                     FROM mc, nu),
            sc AS (SELECT user_id, recency_days, freq, money_cents,
                          CASE WHEN recency_days <= rcut.t1 THEN 3
                               WHEN recency_days <= rcut.t2 THEN 2
                               ELSE 1 END AS r_score,
                          CASE WHEN freq <= fcut.t1 THEN 1
                               WHEN freq <= fcut.t2 THEN 2
                               ELSE 3 END AS f_score,
                          CASE WHEN money_cents <= mcut.t1 THEN 1
                               WHEN money_cents <= mcut.t2 THEN 2
                               ELSE 3 END AS m_score
                   FROM met, rcut, fcut, mcut)
            SELECT user_id, recency_days, freq, money_cents,
                   r_score, f_score, m_score,
                   r_score * 100 + f_score * 10 + m_score AS rfm
            FROM sc
        """,
        # daily cohort retention: integer DATE arithmetic only (no epoch
        # floats); users = cohort members active cohort_day+day_offset
        "events_retention": """
            WITH ud AS (SELECT DISTINCT user_id,
                     CAST(datediff('day', DATE '2024-01-01',
                                   CAST(ts AS DATE)) AS BIGINT) AS day
                        FROM events),
            co AS (SELECT user_id, min(day) AS cohort_day
                   FROM ud GROUP BY user_id)
            SELECT co.cohort_day, ud.day - co.cohort_day AS day_offset,
                   CAST(count(*) AS BIGINT) AS users
            FROM ud JOIN co ON co.user_id = ud.user_id
            GROUP BY co.cohort_day, ud.day - co.cohort_day
        """,
        # DAU/WAU: trailing window via literal-offset unnest fanout
        # over the deduped (user, day) table
        "rolling_active_users": """
            WITH ud AS (SELECT DISTINCT user_id,
                     CAST(datediff('day', DATE '2024-01-01',
                                   CAST(ts AS DATE)) AS BIGINT) AS day
                        FROM events),
            dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
                    FROM ud GROUP BY day),
            con AS (SELECT DISTINCT user_id, day + off AS tday
                    FROM ud CROSS JOIN
                         (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off) o),
            wau AS (SELECT tday, CAST(count(*) AS BIGINT) AS wau
                    FROM con GROUP BY tday)
            SELECT day, dau, wau,
                   CAST(dau * 1000 // wau AS BIGINT) AS stickiness_milli
            FROM dau JOIN wau ON day = tday
        """,
        "events_funnel": """
            WITH ev AS (SELECT * FROM events
                        WHERE event_id <
                              (SELECT count(*) FROM events) // 8),
            s1 AS (SELECT user_id, min(ts) AS t FROM ev
                   WHERE event_type = 'signup' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
                   JOIN s1 ON s1.user_id = e.user_id
                   WHERE e.event_type = 'view' AND e.ts > s1.t
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
                   JOIN s2 ON s2.user_id = e.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t
                   GROUP BY e.user_id),
            s4 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
                   JOIN s3 ON s3.user_id = e.user_id
                   WHERE e.event_type = 'click' AND e.ts > s3.t
                   GROUP BY e.user_id),
            s5 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
                   JOIN s4 ON s4.user_id = e.user_id
                   WHERE e.event_type = 'error' AND e.ts > s4.t
                   GROUP BY e.user_id)
            SELECT CAST(1 AS BIGINT) AS step_idx, 'signup' AS step,
                   CAST((SELECT count(*) FROM s1) AS BIGINT) AS users
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'view',
                   CAST((SELECT count(*) FROM s2) AS BIGINT)
            UNION ALL
            SELECT CAST(3 AS BIGINT), 'purchase',
                   CAST((SELECT count(*) FROM s3) AS BIGINT)
            UNION ALL
            SELECT CAST(4 AS BIGINT), 'click',
                   CAST((SELECT count(*) FROM s4) AS BIGINT)
            UNION ALL
            SELECT CAST(5 AS BIGINT), 'error',
                   CAST((SELECT count(*) FROM s5) AS BIGINT)
        """,
        # Broder estimator: equal-component count over the shared band
        # membership (bucket size in (1, 100]), micro-quantized div 4
        "minhash_jaccard_est": f"""
            WITH {_SHINGLE_CTE}, {_SIG_CTE},
            {_BANDS_CTE},
            ok AS (SELECT band, bucket FROM bands GROUP BY band, bucket
                   HAVING count(*) > 1 AND count(*) <= 100),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a
              JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.doc_id < b.doc_id
              JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket),
            m AS (
              SELECT p.doc_a, p.doc_b,
                     CAST((CASE WHEN sa.mh0 = sb.mh0 THEN 1 ELSE 0 END
                         + CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END
                         + CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END
                         + CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END)
                          AS BIGINT) AS matches
              FROM pairs p
              JOIN sig sa ON sa.doc_id = p.doc_a
              JOIN sig sb ON sb.doc_id = p.doc_b)
            SELECT doc_a, doc_b, matches,
                   CAST((matches * 1000000) // 4 AS BIGINT)
                       AS est_jaccard_micro
            FROM m
        """,
        # ORC serde roundtrip: identity + the planted hostile suffix,
        # partition-pruned (lang <> 'en') and predicate-pushed (doc_id%3)
        "orc_roundtrip": """
            SELECT doc_id, lang,
                   text || CASE WHEN doc_id % 7 = 0
                                THEN ' quote:" backslash:\\ tab:' || chr(9)
                                     || ' nl:' || chr(10) || ' uni:'
                                     || chr(233) || chr(20013) || ' done'
                                ELSE '' END AS text,
                   n_chars
            FROM documents
            WHERE lang <> 'en' AND doc_id % 3 = 0
        """,
        # JSONL serde roundtrip: identity + the planted hostile suffix
        "jsonl_roundtrip": """
            SELECT doc_id, lang,
                   text || CASE WHEN doc_id % 7 = 0
                                THEN ' quote:" backslash:\\ tab:' || chr(9)
                                     || ' nl:' || chr(10) || ' done'
                                ELSE '' END AS text
            FROM documents
        """,
        # WAT roundtrip must recover the PRE-JSON anchor strings exactly —
        # quote+backslash prefix, affine hrefs, %9 WARC-lookalike suffix
        "wat_roundtrip": """
            WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
            l AS (SELECT doc_id, j, (doc_id * 31 + 7 * j) % n.nn AS h
                  FROM documents, n, (SELECT unnest([1, 2, 3]) AS j) js)
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://h' || h || '.example/p' || j AS link_url,
                   'a"\\' || doc_id || '_' || j ||
                     CASE WHEN doc_id % 9 = 0
                          THEN ' WARC/1.0 Content-Length: 3'
                          ELSE '' END AS link_text
            FROM l
        """,
        # 2 unrolled rounds with per-round sink-mass redistribution: sh_t =
        # (Σ p_t over nodes with no out-edges) // n_nodes added to every
        # node's in-mass pre-damping — all-integer, matches Spark's
        # redistribute_dangling one-row broadcast exactly
        "pagerank_dangling": """
            WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
            e AS (
              SELECT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 31 + 7 * j) % n.nn AS dst,
                       n.nn AS nn
                FROM documents, n, (SELECT unnest([1, 2, 3]) AS j) js)
              WHERE src <> dst AND src < nn - 10),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                   FROM e GROUP BY src),
            p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM nodes),
            s1 AS (SELECT CAST(COALESCE(sum(p), 0) AS BIGINT)
                          // (SELECT c FROM nc) AS sh
                   FROM p0 WHERE node NOT IN (SELECT src FROM od)),
            c1 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p0 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p1 AS (SELECT nodes.node,
                          CAST(150000 + ((COALESCE(c1.m, 0)
                               + (SELECT sh FROM s1)) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c1 ON c1.node = nodes.node),
            s2 AS (SELECT CAST(COALESCE(sum(p), 0) AS BIGINT)
                          // (SELECT c FROM nc) AS sh
                   FROM p1 WHERE node NOT IN (SELECT src FROM od)),
            c2 AS (SELECT e.dst AS node,
                          CAST(sum(p.p // od.outdeg) AS BIGINT) AS m
                   FROM e JOIN p1 p ON p.node = e.src
                   JOIN od ON od.src = e.src GROUP BY e.dst),
            p2 AS (SELECT nodes.node,
                          CAST(150000 + ((COALESCE(c2.m, 0)
                               + (SELECT sh FROM s2)) * 85) // 100
                               AS BIGINT) AS p
                   FROM nodes LEFT JOIN c2 ON c2.node = nodes.node)
            SELECT node, p AS rank_micro FROM p2
        """,
        "unigram_surprisal": f"""
            WITH {_surprisal_cte('documents')}
            SELECT doc_id, n_tokens, surprisal_micronats, mean_micronats
            FROM surp
        """,
        "bm25_search": _BM25_SEARCH_SQL,
        # RRF over the two shipped runs: integer reciprocals of the
        # systems' own rank keys, truncated-run docs contribute 0
        "rrf_fusion": f"""
            WITH bs AS ({_BM25_SEARCH_SQL}),
            qs AS ({_QLM_SEARCH_SQL}),
            f AS (SELECT COALESCE(bs.doc_id, qs.doc_id) AS doc_id,
                         CAST(bs.rank AS BIGINT) AS bm25_rank,
                         CAST(qs.rank AS BIGINT) AS qlm_rank
                  FROM bs FULL OUTER JOIN qs ON bs.doc_id = qs.doc_id),
            sc AS (SELECT doc_id, bm25_rank, qlm_rank,
                          COALESCE(1000000 // (60 + bm25_rank), 0)
                        + COALESCE(1000000 // (60 + qlm_rank), 0)
                              AS rrf_micro
                   FROM f)
            SELECT doc_id, bm25_rank, qlm_rank, rrf_micro,
                   CAST(row_number() OVER (
                        ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT)
                       AS fused_rank
            FROM sc
        """,
        # item-item user-set cosine: distinct (user, item) projection,
        # bounded self-join, isqrt-correction chain for the norm
        "item_similarity": """
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
            sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                   FROM ut GROUP BY event_type),
            pr AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
                          CAST(count(*) AS BIGINT) AS inter
                   FROM ut a JOIN ut b ON a.user_id = b.user_id
                    AND a.event_type < b.event_type
                   GROUP BY 1, 2),
            j AS (SELECT pr.item_a, pr.item_b, sa.n AS n_a, sb.n AS n_b,
                         pr.inter, sa.n * sb.n * 1000000 AS p
                  FROM pr JOIN sz sa ON pr.item_a = sa.event_type
                          JOIN sz sb ON pr.item_b = sb.event_type),
            w0 AS (SELECT *, CAST(floor(sqrt(CAST(p AS DOUBLE)))
                                  AS BIGINT) AS y0 FROM j),
            w1 AS (SELECT *, y0 + CASE WHEN (y0 + 1) * (y0 + 1) <= p
                                       THEN 1 ELSE 0 END AS y1 FROM w0),
            w2 AS (SELECT *, y1 - CASE WHEN y1 * y1 > p
                                       THEN 1 ELSE 0 END AS w FROM w1)
            SELECT item_a, item_b, n_a, n_b, inter,
                   (inter * 1000000) // w AS cos_milli
            FROM w2
        """,
        # Mann-Whitney U over the length histogram: doubled midranks
        # (2*prev + t + 1), tie-corrected cross-multiplied z^2 verdict
        "mann_whitney_u": """
            WITH s AS (SELECT CAST(len(string_split(text, ' '))
                                   AS BIGINT) AS x,
                              CASE WHEN source = 'src0'
                                   THEN 1 ELSE 0 END AS is_a
                       FROM documents
                       WHERE source IN ('src0', 'src1')),
            hist AS (SELECT x,
                            CAST(sum(is_a) AS BIGINT) AS c1,
                            CAST(sum(1 - is_a) AS BIGINT) AS c2
                     FROM s GROUP BY x),
            cum AS (SELECT c1, c2, c1 + c2 AS t,
                           sum(c1 + c2) OVER (ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumt
                    FROM hist),
            per AS (SELECT c1, t,
                           2 * (cumt - t) + t + 1 AS rank2
                    FROM cum),
            agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                           CAST(sum(t - c1) AS BIGINT) AS n2,
                           CAST(sum(c1 * rank2) AS BIGINT) AS r1_x2,
                           CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
                    FROM per),
            b AS (SELECT n1, n2,
                         r1_x2 - n1 * (n1 + 1) AS u1_x2, tie_sum
                  FROM agg)
            SELECT n1, n2, u1_x2,
                   (u1_x2 * 1000) // (2 * n1 * n2) AS auc_milli,
                   CAST(CASE WHEN 1875 * (n1 + n2) * (n1 + n2 - 1)
                                * (u1_x2 - n1 * n2)
                                * (u1_x2 - n1 * n2)
                             > 2401 * n1 * n2
                                * ((n1 + n2 + 1) * (n1 + n2)
                                   * (n1 + n2 - 1) - tie_sum)
                        THEN 1 ELSE 0 END AS BIGINT) AS reject_95
            FROM b
        """,
        # Spearman rho: doubled midranks per value histogram, centered
        # as rank2 - (n+1) before aggregation, isqrt(dx*dy) denominator
        # (the temperature_mix correction chain), sign-peeled // div
        "spearman_corr": """
            WITH s AS (SELECT CAST(len(string_split(text, ' '))
                                   AS BIGINT) AS x,
                              CAST(len(list_distinct(
                                       string_split(text, ' ')))
                                   AS BIGINT) AS y
                       FROM documents WHERE doc_id < 1000),
            hx AS (SELECT x, CAST(count(*) AS BIGINT) AS c
                   FROM s GROUP BY x),
            rx AS (SELECT x,
                          2 * (sum(c) OVER (ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - c) + c + 1 AS r2_x
                   FROM hx),
            hy AS (SELECT y, CAST(count(*) AS BIGINT) AS c
                   FROM s GROUP BY y),
            ry AS (SELECT y,
                          2 * (sum(c) OVER (ORDER BY y
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - c) + c + 1 AS r2_y
                   FROM hy),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
            j AS (SELECT n,
                         CAST(r2_x - (n + 1) AS BIGINT) AS ux,
                         CAST(r2_y - (n + 1) AS BIGINT) AS uy
                  FROM s JOIN rx USING (x) JOIN ry USING (y)
                  CROSS JOIN tot),
            a AS (SELECT n,
                         CAST(sum(ux * uy) AS BIGINT) AS num,
                         CAST(sum(ux * ux) AS BIGINT) AS dx,
                         CAST(sum(uy * uy) AS BIGINT) AS dy
                  FROM j GROUP BY n),
            w0 AS (SELECT *, CAST(floor(sqrt(CAST(dx * dy AS DOUBLE)))
                                  AS BIGINT) AS y0 FROM a),
            w1 AS (SELECT *, y0 + CASE WHEN (y0 + 1) * (y0 + 1)
                                            <= dx * dy
                                       THEN 1 ELSE 0 END AS y1 FROM w0),
            w2 AS (SELECT *, y1 - CASE WHEN y1 * y1 > dx * dy
                                       THEN 1 ELSE 0 END AS denom
                   FROM w1)
            SELECT n, num, dx, dy,
                   CASE WHEN denom = 0 THEN NULL
                        WHEN num < 0 THEN -((1000 * (-num)) // denom)
                        ELSE (1000 * num) // denom END AS rho_milli
            FROM w2
        """,
        # conductance over the shared LPA labeling: two-sided crossing
        # count, vol from the nbrl degree table, least() denominator
        "community_conductance": f"""
            WITH {_CHORD_EDGES_CTE},
            {_lpa_ctes(rounds=4)},
            mcnt AS (SELECT CAST(count(*) AS BIGINT) AS m_edges
                     FROM undl),
            degs AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                     FROM nbrl GROUP BY node),
            nl AS (SELECT d.deg, l.label
                   FROM degs d JOIN l4 l ON l.node = d.node),
            vols AS (SELECT label,
                            CAST(count(*) AS BIGINT) AS n_nodes,
                            CAST(sum(deg) AS BIGINT) AS vol
                     FROM nl GROUP BY label),
            crossing AS (SELECT la.label AS la, lb.label AS lb
                         FROM undl u
                         JOIN l4 la ON la.node = u.lo
                         JOIN l4 lb ON lb.node = u.hi
                         WHERE la.label <> lb.label),
            cutc AS (SELECT label, CAST(count(*) AS BIGINT) AS cut
                     FROM (SELECT la AS label FROM crossing
                           UNION ALL
                           SELECT lb AS label FROM crossing)
                     GROUP BY label),
            o AS (SELECT v.label, v.n_nodes, v.vol,
                         CAST(COALESCE(c.cut, 0) AS BIGINT) AS cut,
                         least(v.vol, 2 * m.m_edges - v.vol) AS denom
                  FROM vols v LEFT JOIN cutc c ON c.label = v.label
                  CROSS JOIN mcnt m)
            SELECT label, n_nodes, vol, cut,
                   CASE WHEN denom <= 0 THEN NULL
                        ELSE (cut * 1000) // denom END AS cond_milli
            FROM o
        """,
        # Wilson 95% interval per source: the shared quality-rule
        # disjunction, z = 49/25 scaled through 625n, isqrt radicand
        # rr = 2401 n^2 + 2500 n k (n-k), truncating micro divisions
        "wilson_quality_ci": f"""
            WITH q AS ({_qf_cols_sql('documents')}),
            base AS (SELECT d.source,
                            CASE WHEN NOT {_QF_BAD_SQL}
                                 THEN 1 ELSE 0 END AS keep
                     FROM q JOIN (SELECT doc_id, source
                                  FROM documents) d USING (doc_id)),
            g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(keep) AS BIGINT) AS k
                  FROM base GROUP BY source),
            r0 AS (SELECT *, 2401*n*n + 2500*n*k*(n - k) AS rr FROM g),
            w0 AS (SELECT *, CAST(floor(sqrt(CAST(rr AS DOUBLE)))
                                  AS BIGINT) AS y0 FROM r0),
            w1 AS (SELECT *, y0 + CASE WHEN (y0+1)*(y0+1) <= rr
                                       THEN 1 ELSE 0 END AS y1 FROM w0),
            w2 AS (SELECT *, y1 - CASE WHEN y1*y1 > rr
                                       THEN 1 ELSE 0 END AS s FROM w1)
            SELECT source, n, k,
                   (1000000 * k) // n AS p_micro,
                   (1000000 * (1250*n*k + 2401*n - 49*s))
                       // (2*n*(625*n + 2401)) AS lo_micro,
                   (1000000 * (1250*n*k + 2401*n + 49*s))
                       // (2*n*(625*n + 2401)) AS hi_micro
            FROM w2
        """,
        # Cohen's kappa between the qf rule verdict and the hls model
        # verdict: chance-agreement floor subtracted, SIGNED numerator
        # peeled around the truncating div, degenerate denominator NULL
        "classifier_agreement": f"""
            WITH {_hls_ctes("documents")},
            q AS ({_qf_cols_sql("documents")}),
            qk AS (SELECT doc_id,
                          CASE WHEN NOT {_QF_BAD_SQL}
                               THEN 1 ELSE 0 END AS qk
                   FROM q),
            jj AS (SELECT qk.qk, hls.keep AS hk
                   FROM qk LEFT JOIN hls USING (doc_id)),
            g AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                         CAST(count(hk) AS BIGINT) AS n_scored,
                         CAST(COALESCE(sum(CASE WHEN hk IS NOT NULL
                                                THEN qk END), 0)
                              AS BIGINT) AS qf_pos,
                         CAST(COALESCE(sum(hk), 0) AS BIGINT) AS hls_pos,
                         CAST(COALESCE(sum(CASE WHEN qk = hk
                                                THEN 1 ELSE 0 END), 0)
                              AS BIGINT) AS agree
                  FROM jj),
            d AS (SELECT n_scored, n_total - n_scored AS n_excluded,
                         qf_pos, hls_pos, agree,
                         n_scored * agree
                           - (qf_pos * hls_pos
                              + (n_scored - qf_pos)
                                * (n_scored - hls_pos)) AS knum,
                         n_scored * n_scored
                           - (qf_pos * hls_pos
                              + (n_scored - qf_pos)
                                * (n_scored - hls_pos)) AS kden
                  FROM g)
            SELECT n_scored, n_excluded, qf_pos, hls_pos, agree,
                   CASE WHEN kden <= 0 THEN NULL
                        WHEN knum < 0 THEN -((1000 * (-knum)) // kden)
                        ELSE (1000 * knum) // kden END AS kappa_milli
            FROM d
        """,
        # PR sweep: six thresholds as a literal unnest (constants — the
        # DuckDB computed-unnest binder bug does not apply), one grouped
        # conditional-sum pass, NULL (never 0) on empty denominators
        "score_pr_curve": f"""
            WITH {_hls_ctes("documents")},
            q AS ({_qf_cols_sql("documents")}),
            qk AS (SELECT doc_id,
                          CASE WHEN NOT {_QF_BAD_SQL}
                               THEN 1 ELSE 0 END AS qk
                   FROM q),
            jj AS (SELECT qk, score_micro
                   FROM qk JOIN hls USING (doc_id)),
            th AS (SELECT unnest([-50, 0, 50, 100, 150, 200]) AS t),
            cells AS (SELECT CAST(th.t AS BIGINT) AS threshold_micro,
                             CAST(COALESCE(sum(CASE WHEN score_micro >= th.t
                                           AND qk = 1 THEN 1 ELSE 0 END), 0)
                                  AS BIGINT) AS tp,
                             CAST(COALESCE(sum(CASE WHEN score_micro >= th.t
                                           AND qk = 0 THEN 1 ELSE 0 END), 0)
                                  AS BIGINT) AS fp,
                             CAST(COALESCE(sum(CASE WHEN score_micro < th.t
                                           AND qk = 1 THEN 1 ELSE 0 END), 0)
                                  AS BIGINT) AS fn
                      FROM th CROSS JOIN jj GROUP BY th.t)
            SELECT threshold_micro, tp + fp AS pred_pos, tp, fp, fn,
                   CASE WHEN tp + fp = 0 THEN NULL
                        ELSE (1000 * tp) // (tp + fp)
                   END AS precision_milli,
                   CASE WHEN tp + fn = 0 THEN NULL
                        ELSE (1000 * tp) // (tp + fn)
                   END AS recall_milli,
                   CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                        ELSE (2000 * tp) // (2 * tp + fp + fn)
                   END AS f1_milli
            FROM cells
        """,
        # ROC-AUC: doubled-midrank histogram U statistic over the
        # bounded score histogram; NULL (never 500) on a degenerate
        # label side
        "roc_auc": f"""
            WITH {_hls_ctes("documents")},
            q AS ({_qf_cols_sql("documents")}),
            qk AS (SELECT doc_id,
                          CASE WHEN NOT {_QF_BAD_SQL}
                               THEN 1 ELSE 0 END AS qk
                   FROM q),
            jj AS (SELECT qk, score_micro
                   FROM qk JOIN hls USING (doc_id)),
            hist AS (SELECT score_micro,
                            CAST(sum(qk) AS BIGINT) AS c1,
                            CAST(sum(1 - qk) AS BIGINT) AS c0
                     FROM jj GROUP BY 1),
            cum AS (SELECT c1, c1 + c0 AS t,
                           sum(c1 + c0) OVER (ORDER BY score_micro
                             ROWS UNBOUNDED PRECEDING) AS cumt
                    FROM hist),
            per AS (SELECT c1, t, 2 * (cumt - t) + t + 1 AS rank2
                    FROM cum),
            agg AS (SELECT
                      CAST(COALESCE(sum(c1), 0) AS BIGINT) AS n_pos,
                      CAST(COALESCE(sum(t - c1), 0) AS BIGINT) AS n_neg,
                      CAST(COALESCE(sum(c1 * rank2), 0) AS BIGINT)
                          AS r1_x2
                    FROM per),
            base AS (SELECT n_pos, n_neg,
                            r1_x2 - n_pos * (n_pos + 1) AS u1_x2
                     FROM agg)
            SELECT n_pos + n_neg AS n_scored, n_pos, n_neg, u1_x2,
                   CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                        ELSE (1000 * u1_x2) // (2 * n_pos * n_neg)
                   END AS auc_milli
            FROM base
        """,
        # CDC apply: packed (ts,id) argmax per key + join-back for the
        # winning op/value; latest-delete keys absent by semantics
        "cdc_apply": """
            WITH ch AS (SELECT user_id AS key,
                               CASE WHEN event_id % 10 = 0
                                    THEN 'D' ELSE 'U' END AS op,
                               event_type AS value,
                               epoch_us(ts) // 1000000 AS ets,
                               event_id AS id
                        FROM events),
            pk AS (SELECT key, op, value,
                          ets * 1048576 + id AS p
                   FROM ch),
            agg AS (SELECT key, max(p) AS pmax,
                           CAST(count(*) AS BIGINT) AS n_changes,
                           CAST(sum(CASE WHEN op = 'D' THEN 1
                                         ELSE 0 END) AS BIGINT)
                               AS n_deletes
                    FROM pk GROUP BY key)
            SELECT agg.key, pk.value,
                   pmax // 1048576 AS last_ts,
                   pmax % 1048576 AS last_id,
                   n_changes, n_deletes
            FROM agg JOIN pk
              ON agg.key = pk.key AND agg.pmax = pk.p
            WHERE pk.op = 'U'
        """,
        # Score-band reliability: fixed 50-micro bands over the clamped
        # score, per-band positive rate + lift over base rate
        "score_reliability": f"""
            WITH {_hls_ctes("documents")},
            q AS ({_qf_cols_sql("documents")}),
            qk AS (SELECT doc_id,
                          CASE WHEN NOT {_QF_BAD_SQL}
                               THEN 1 ELSE 0 END AS qk
                   FROM q),
            jj AS (SELECT qk, score_micro
                   FROM qk JOIN hls USING (doc_id)),
            banded AS (SELECT
                         CAST((GREATEST(CAST(-250 AS BIGINT),
                                LEAST(CAST(249 AS BIGINT), score_micro))
                               + 250) // 50 AS BIGINT) AS band,
                         qk
                       FROM jj),
            per AS (SELECT band, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(qk) AS BIGINT) AS pos
                    FROM banded GROUP BY band),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                           CAST(COALESCE(sum(qk), 0) AS BIGINT)
                               AS pos_total
                    FROM banded)
            SELECT band,
                   -250 + band * 50 AS lo_micro,
                   -250 + (band + 1) * 50 AS hi_micro,
                   n, pos,
                   (1000 * pos) // n AS obs_milli,
                   CASE WHEN pos_total = 0 THEN NULL
                        ELSE (1000 * pos * n_total) // (n * pos_total)
                   END AS lift_milli
            FROM per CROSS JOIN tot
        """,
        # Heaps' law over trigrams: the vocab_growth counting chain on
        # the _gram_occ_cte stream, deci-milli-nat point quantization,
        # the shared signed-OLS tail
        "heaps_fit": f"""
            WITH {_gram_occ_cte("documents", 3)},
            firsts AS (SELECT g, min(doc_id) AS first_doc
                       FROM gs GROUP BY g),
            c(cutoff) AS (VALUES (31), (62), (125), (250), (500)),
            vt AS (SELECT
                     (SELECT count(*) FROM firsts
                      WHERE first_doc < cutoff) AS vocab,
                     (SELECT count(*) FROM gs
                      WHERE doc_id < cutoff) AS tokens
                   FROM c),
            pts AS (SELECT
                CAST(floor(ln(CAST(tokens AS DOUBLE))
                           * CAST(10000 AS DOUBLE)) AS BIGINT) AS x,
                CAST(floor(ln(CAST(vocab AS DOUBLE))
                           * CAST(10000 AS DOUBLE)) AS BIGINT) AS y
                    FROM vt WHERE tokens > 0 AND vocab > 0),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx
                  FROM pts)
            {_ols_tail_sql("n_pts")}
        """,
        # JSD between corpus halves: integer cross-ratio ln arguments,
        # per-term micro-nat floors summed as integers, sign-peeled
        # final truncating divisions (the unigram_surprisal family)
        "jsd_drift": """
            WITH toks AS (SELECT doc_id % 2 AS side,
                                 unnest(string_split(text, ' ')) AS tok
                          FROM documents),
            nz AS (SELECT side, tok FROM toks WHERE tok <> ''),
            tt AS (SELECT tok,
                          CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                               AS BIGINT) AS a,
                          CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                               AS BIGINT) AS b
                   FROM nz GROUP BY tok),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                           CAST(COALESCE(sum(a), 0) AS BIGINT) AS at,
                           CAST(COALESCE(sum(b), 0) AS BIGINT) AS bt
                    FROM tt),
            c AS (SELECT n_terms, at, bt,
                    CAST(COALESCE(sum(CASE WHEN a > 0
                                       AND a * bt + b * at > 0 THEN
                        a * CAST(floor(ln(
                              CAST(2 * a * bt AS DOUBLE)
                            / CAST(a * bt + b * at AS DOUBLE))
                            * CAST(1000000 AS DOUBLE)) AS BIGINT)
                        ELSE 0 END), 0) AS BIGINT) AS s1,
                    CAST(COALESCE(sum(CASE WHEN b > 0
                                       AND a * bt + b * at > 0 THEN
                        b * CAST(floor(ln(
                              CAST(2 * b * at AS DOUBLE)
                            / CAST(a * bt + b * at AS DOUBLE))
                            * CAST(1000000 AS DOUBLE)) AS BIGINT)
                        ELSE 0 END), 0) AS BIGINT) AS s2
                  FROM tt CROSS JOIN tot
                  GROUP BY n_terms, at, bt)
            SELECT n_terms, at AS a_total, bt AS b_total, s1, s2,
                   CASE WHEN at = 0 OR bt = 0 THEN NULL
                        ELSE (CASE WHEN s1 < 0
                                   THEN -((-s1) // (2 * at))
                                   ELSE s1 // (2 * at) END)
                           + (CASE WHEN s2 < 0
                                   THEN -((-s2) // (2 * bt))
                                   ELSE s2 // (2 * bt) END)
                   END AS jsd_micro
            FROM c
        """,
        # Mann-Kendall: day-ordered pair signs, tie-corrected variance,
        # all-integer continuity-corrected 95% verdict (z = 49/25)
        "mann_kendall_trend": """
            WITH daily AS (SELECT event_type,
                     CAST(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day,
                     CAST(count(*) AS BIGINT) AS cnt
                   FROM events GROUP BY 1, 2),
            nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
                   FROM daily GROUP BY 1),
            pr AS (SELECT a.event_type,
                          CASE WHEN b.cnt > a.cnt THEN 1
                               WHEN b.cnt < a.cnt THEN -1
                               ELSE 0 END AS sg
                   FROM daily a JOIN daily b
                     ON a.event_type = b.event_type AND a.day < b.day),
            s AS (SELECT event_type,
                         CAST(COALESCE(sum(sg), 0) AS BIGINT) AS s_stat
                  FROM pr GROUP BY 1),
            ties AS (SELECT event_type,
                            CAST(sum(t * (t - 1) * (2 * t + 5))
                                 AS BIGINT) AS tie_sum
                     FROM (SELECT event_type, cnt,
                                  CAST(count(*) AS BIGINT) AS t
                           FROM daily GROUP BY 1, 2)
                     GROUP BY 1),
            j AS (SELECT nn.event_type, nn.n_days,
                         COALESCE(s.s_stat, 0) AS s_stat,
                         nn.n_days * (nn.n_days - 1)
                           * (2 * nn.n_days + 5) - ties.tie_sum
                             AS var_num
                  FROM nn LEFT JOIN s ON nn.event_type = s.event_type
                  JOIN ties ON nn.event_type = ties.event_type)
            SELECT event_type, n_days, s_stat, var_num,
                   CASE WHEN var_num <= 0 THEN NULL
                        ELSE CAST((abs(s_stat) > 0
                              AND 11250 * (abs(s_stat) - 1)
                                  * (abs(s_stat) - 1)
                                  > 2401 * var_num) AS INT)
                   END AS reject_95
            FROM j
        """,
        # Theil-Sen: per-pair floored milli-slopes (sign-peeled), med2
        # from the per-type slope histogram (cumulative window)
        "theil_sen_slope": """
            WITH daily AS (SELECT event_type,
                     CAST(datediff('day', DATE '2024-01-01',
                          CAST(ts AS DATE)) AS BIGINT) AS day,
                     CAST(count(*) AS BIGINT) AS cnt
                   FROM events GROUP BY 1, 2),
            nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
                   FROM daily GROUP BY 1),
            pr AS (SELECT a.event_type, b.cnt - a.cnt AS dc,
                          b.day - a.day AS dd
                   FROM daily a JOIN daily b
                     ON a.event_type = b.event_type AND a.day < b.day),
            sl AS (SELECT event_type,
                          CASE WHEN dc < 0 THEN -((1000 * (-dc)) // dd)
                               ELSE (1000 * dc) // dd END AS slope
                   FROM pr),
            h AS (SELECT event_type, slope,
                         CAST(count(*) AS BIGINT) AS c
                  FROM sl GROUP BY 1, 2),
            cum AS (SELECT event_type, slope,
                           sum(c) OVER (PARTITION BY event_type
                               ORDER BY slope
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
                    FROM h),
            np AS (SELECT event_type, CAST(count(*) AS BIGINT)
                              AS n_pairs
                   FROM sl GROUP BY 1),
            med AS (SELECT cum.event_type,
                           min(CASE WHEN cum >= (n_pairs + 1) // 2
                                    THEN slope END)
                         + min(CASE WHEN cum >= (n_pairs + 2) // 2
                                    THEN slope END) AS slope_med2_milli,
                           max(n_pairs) AS n_pairs
                    FROM cum JOIN np
                      ON cum.event_type = np.event_type
                    GROUP BY 1)
            SELECT med.event_type, nn.n_days, med.n_pairs,
                   med.slope_med2_milli
            FROM med JOIN nn ON med.event_type = nn.event_type
        """,
        # per-source median/MAD outlier card: cumulative histogram
        # medians (doubled order statistics), integer cross-multiplied
        # 3-MAD flag
        "mad_outliers": """
            WITH s AS (SELECT source AS grp,
                              CAST(len(string_split(text, ' '))
                                   AS BIGINT) AS x
                       FROM documents),
            nn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
                   FROM s GROUP BY grp),
            h1 AS (SELECT grp, x, CAST(count(*) AS BIGINT) AS c
                   FROM s GROUP BY grp, x),
            cum1 AS (SELECT grp, x,
                            sum(c) OVER (PARTITION BY grp ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
                     FROM h1),
            med AS (SELECT grp,
                           min(CASE WHEN cum >= (n + 1) // 2
                                    THEN x END)
                         + min(CASE WHEN cum >= (n + 2) // 2
                                    THEN x END) AS med2
                    FROM cum1 JOIN nn USING (grp) GROUP BY grp),
            dev AS (SELECT s.grp, abs(2 * s.x - med.med2) AS d
                    FROM s JOIN med ON s.grp = med.grp),
            h2 AS (SELECT grp, d, CAST(count(*) AS BIGINT) AS c
                   FROM dev GROUP BY grp, d),
            cum2 AS (SELECT grp, d,
                            sum(c) OVER (PARTITION BY grp ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
                     FROM h2),
            mad AS (SELECT grp,
                           min(CASE WHEN cum >= (n + 1) // 2
                                    THEN d END)
                         + min(CASE WHEN cum >= (n + 2) // 2
                                    THEN d END) AS mad4
                    FROM cum2 JOIN nn USING (grp) GROUP BY grp),
            fl AS (SELECT dev.grp,
                          CAST(sum(CASE WHEN 2 * d > 3 * mad4
                                        THEN 1 ELSE 0 END)
                               AS BIGINT) AS n_outliers
                   FROM dev JOIN mad ON dev.grp = mad.grp
                   GROUP BY dev.grp)
            SELECT med.grp AS source, nn.n, med.med2, mad.mad4,
                   fl.n_outliers,
                   (1000 * fl.n_outliers) // nn.n AS outlier_milli
            FROM med JOIN nn USING (grp) JOIN mad USING (grp)
            JOIN fl USING (grp)
        """,
        # Kendall tau-b: C/D from the joint cell histogram's inequality
        # self-join, tie terms from the marginals, isqrt radicand,
        # sign-peeled milli div (the spearman_corr x/y projection)
        "kendall_tau": """
            WITH s AS (SELECT CAST(len(string_split(text, ' '))
                                   AS BIGINT) AS x,
                              CAST(len(list_distinct(
                                       string_split(text, ' ')))
                                   AS BIGINT) AS y
                       FROM documents WHERE doc_id < 1000),
            cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
                      FROM s GROUP BY x, y),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
            txs AS (SELECT CAST(COALESCE(sum(cc * (cc - 1) // 2), 0)
                                AS BIGINT) AS tx
                    FROM (SELECT CAST(count(*) AS BIGINT) AS cc
                          FROM s GROUP BY x)),
            tys AS (SELECT CAST(COALESCE(sum(cc * (cc - 1) // 2), 0)
                                AS BIGINT) AS ty
                    FROM (SELECT CAST(count(*) AS BIGINT) AS cc
                          FROM s GROUP BY y)),
            cd AS (SELECT CAST(COALESCE(sum(CASE WHEN a.y < b.y
                                        THEN a.c * b.c ELSE 0 END), 0)
                               AS BIGINT) AS c_pairs,
                          CAST(COALESCE(sum(CASE WHEN a.y > b.y
                                        THEN a.c * b.c ELSE 0 END), 0)
                               AS BIGINT) AS d_pairs
                   FROM cells a JOIN cells b ON a.x < b.x),
            base AS (SELECT n, c_pairs, d_pairs, tx, ty,
                            n * (n - 1) // 2 AS n0
                     FROM tot CROSS JOIN txs CROSS JOIN tys
                     CROSS JOIN cd),
            r0 AS (SELECT *, (n0 - tx) * (n0 - ty) AS rad FROM base),
            w0 AS (SELECT *, CAST(floor(sqrt(CAST(rad AS DOUBLE)))
                                  AS BIGINT) AS y0 FROM r0),
            w1 AS (SELECT *, y0 + CASE WHEN (y0 + 1) * (y0 + 1) <= rad
                                       THEN 1 ELSE 0 END AS y1 FROM w0),
            w2 AS (SELECT *, y1 - CASE WHEN y1 * y1 > rad
                                       THEN 1 ELSE 0 END AS denom
                   FROM w1)
            SELECT n, c_pairs, d_pairs, tx, ty,
                   CASE WHEN n0 - tx <= 0 OR n0 - ty <= 0 THEN NULL
                        WHEN c_pairs - d_pairs < 0
                          THEN -((1000 * (d_pairs - c_pairs)) // denom)
                        ELSE (1000 * (c_pairs - d_pairs)) // denom
                   END AS tau_milli
            FROM w2
        """,
        "dedup_components_embedding": f"""
            WITH RECURSIVE {_EMB_BANDS_CTE},
            bsz AS (SELECT band, bkey, count(*) AS nb
                    FROM bands GROUP BY band, bkey),
            kept AS (SELECT b.vec_id, b.band, b.bkey
                     FROM bands b JOIN bsz USING (band, bkey)
                     WHERE nb <= 60),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM kept a JOIN kept b
                ON a.band = b.band AND a.bkey = b.bkey
               AND a.vec_id < b.vec_id),
            e AS (
              SELECT id_a AS a, id_b AS b FROM (
                SELECT id_a, id_b,
                       list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                              CAST(eb.embedding AS DOUBLE[]))
                           AS cos
                FROM cand
                JOIN embeddings ea ON ea.vec_id = id_a
                JOIN embeddings eb ON eb.vec_id = id_b)
              WHERE round(cos, 4) >= 0.35),
            sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
            reach(src, dst) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
            SELECT v.vec_id,
                   CAST(LEAST(v.vec_id, COALESCE(m.mn, v.vec_id)) AS BIGINT)
                       AS component
            FROM embeddings v
            LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
              ON m.src = v.vec_id
        """,
        "inverted_index": """
            WITH tok AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
            SELECT term, CAST(count(*) AS BIGINT) AS df,
                   array_to_string(
                     list_slice(list(doc_id ORDER BY doc_id), 1, 8),
                     ',') AS postings_csv
            FROM tok GROUP BY term HAVING count(*) >= 2
        """,
        "term_search": """
            WITH tok AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
            SELECT doc_id FROM tok
            WHERE term IN ('query', 'scan', 'window')
            GROUP BY doc_id HAVING count(*) = 3
        """,
        "incremental_dedup": f"""
            WITH {_SHINGLE_CTE}, {_SIG_CTE},
            bands AS (
              SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bucket FROM sig),
            cb AS (SELECT DISTINCT band, bucket FROM bands
                   WHERE doc_id % 2 = 0),
            inc AS (
              SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000, md5(text) FROM documents
              WHERE doc_id % 2 = 0 AND doc_id < 20),
            ch AS (SELECT DISTINCT md5(text) AS h FROM documents
                   WHERE doc_id % 2 = 0),
            -- band membership is a pure function of text, so the
            -- resubmitted docs inherit their source doc's buckets
            ibands AS (
              SELECT doc_id, band, bucket FROM bands WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000, band, bucket FROM bands
              WHERE doc_id % 2 = 0 AND doc_id < 20),
            nearids AS (
              SELECT DISTINCT ib.doc_id FROM ibands ib
              JOIN cb USING (band, bucket))
            SELECT i.doc_id,
                   CASE WHEN c.h IS NOT NULL THEN 'exact'
                        WHEN nr.doc_id IS NOT NULL THEN 'near'
                        ELSE 'keep' END AS verdict
            FROM inc i
            LEFT JOIN ch c ON i.h = c.h
            LEFT JOIN nearids nr ON i.doc_id = nr.doc_id
        """,
        "dedup_components": """
            WITH RECURSIVE
            w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(ws) - 2),
                              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                           AS shingle
                FROM w WHERE len(ws) >= 3)),
            freq AS (SELECT shingle FROM sh GROUP BY shingle
                     HAVING count(*) <= 100),
            rare AS (SELECT sh.doc_id, sh.shingle FROM sh
                     JOIN freq USING (shingle)),
            e AS (
              SELECT a.doc_id AS a, b.doc_id AS b
              FROM rare a JOIN rare b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
            sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
            reach(src, dst) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
            SELECT d.doc_id,
                   CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS BIGINT)
                       AS component
            FROM documents d
            LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
              ON m.src = d.doc_id
        """,
        "dedup_components_minhash": f"""
            WITH RECURSIVE {_minhash_comp_ctes()}
            SELECT doc_id, component FROM comp
        """,
        # r5: which copy of each component a curation run KEEPS — packed
        # argmax (n_chars*2^20 + (2^20-1-doc_id): score argmax, min-id tie)
        "dedup_canonical": f"""
            WITH RECURSIVE {_minhash_comp_ctes()},
            scp AS (SELECT c.component,
                           d.n_chars * 1048576 + (1048575 - d.doc_id) AS p
                    FROM comp c JOIN documents d USING (doc_id)),
            agg AS (SELECT component, max(p) AS pk,
                           CAST(count(*) AS BIGINT) AS n_members
                    FROM scp GROUP BY component)
            SELECT component,
                   CAST(1048575 - (pk % 1048576) AS BIGINT) AS canonical_id,
                   CAST(pk // 1048576 AS BIGINT) AS best_score,
                   n_members
            FROM agg
        """,
        "knn_bruteforce": """
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS qe
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id,
                         CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id,
                     list_cosine_similarity(qe, ce) AS cos
              FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
            ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY round(cos, 4) DESC, neighbor_id ASC)
                         AS rank, cos
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
                   round(cos, 4) AS cos_sim
            FROM ranked WHERE rank <= 5
        """,
        "embedding_lsh_buckets": """
            WITH dots AS (
              SELECT vec_id, p,
                     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(generate_series(1, len(embedding)), i ->
                         CAST(embedding[i] AS DOUBLE) *
                         (CASE WHEN (strpos('0123456789abcdef',
                                 substr(md5(p || ':' || CAST(i - 1 AS VARCHAR)),
                                        2, 1)) - 1) % 2 = 1
                               THEN 1.0 ELSE -1.0 END))),
                       (a, b) -> a + b) AS dot
              FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS p) _p),
            sig AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN dot > 0
                          THEN CAST(power(2.0, p) AS BIGINT) ELSE 0 END)
                          AS BIGINT) AS bucket
              FROM dots GROUP BY vec_id)
            SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
                   min(vec_id) AS min_vec_id
            FROM sig GROUP BY bucket
        """,
        "embedding_neardup_lsh": f"""
            WITH {_EMB_BANDS_CTE},
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bkey = b.bkey
               AND a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(cos, 4) AS cos_sim FROM (
              SELECT id_a, id_b,
                     list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                            CAST(eb.embedding AS DOUBLE[])) AS cos
              FROM cand
              JOIN embeddings ea ON ea.vec_id = id_a
              JOIN embeddings eb ON eb.vec_id = id_b)
            WHERE round(cos, 4) >= 0.35
        """,
        "embedding_neardup_lsh_capped": f"""
            WITH {_EMB_BANDS_CTE},
            bsz AS (SELECT band, bkey, count(*) AS nb
                    FROM bands GROUP BY band, bkey),
            kept AS (SELECT b.vec_id, b.band, b.bkey
                     FROM bands b JOIN bsz USING (band, bkey)
                     WHERE nb <= 60),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM kept a JOIN kept b
                ON a.band = b.band AND a.bkey = b.bkey
               AND a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(cos, 4) AS cos_sim FROM (
              SELECT id_a, id_b,
                     list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                            CAST(eb.embedding AS DOUBLE[])) AS cos
              FROM cand
              JOIN embeddings ea ON ea.vec_id = id_a
              JOIN embeddings eb ON eb.vec_id = id_b)
            WHERE round(cos, 4) >= 0.35
        """,
        "embedding_lsh_overflow": f"""
            WITH {_EMB_BANDS_CTE}
            SELECT band, bkey, CAST(count(*) AS BIGINT) AS n_vecs
            FROM bands GROUP BY band, bkey HAVING count(*) > 60
        """,
        "embedding_neardup": """
            SELECT id_a, id_b, round(cos, 4) AS cos_sim FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])) AS cos
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE round(cos, 4) >= 0.35
        """,
        "ivf_fixed_topk": """
            WITH nd AS (SELECT len(embedding) AS n FROM embeddings LIMIT 1),
            cen AS (
              SELECT c, list_transform(generate_series(1, (SELECT n FROM nd)),
                d -> (CAST(
                  (strpos('0123456789abcdef',
                     substr(md5(c || ':' || CAST(d - 1 AS VARCHAR)), 1, 1)) - 1)
                  * 16 +
                  (strpos('0123456789abcdef',
                     substr(md5(c || ':' || CAST(d - 1 AS VARCHAR)), 2, 1)) - 1)
                  AS DOUBLE) - 128) / 128) AS center
              FROM (SELECT unnest(generate_series(0, 7)) AS c)),
            dist AS (
              SELECT vec_id, c,
                     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(generate_series(1, len(embedding)), i ->
                         (CAST(embedding[i] AS DOUBLE) - center[i])
                       * (CAST(embedding[i] AS DOUBLE) - center[i]))),
                       (a, b) -> a + b) AS d2
              FROM embeddings CROSS JOIN cen),
            assigned AS (
              SELECT vec_id, c AS list_id FROM (
                SELECT vec_id, c,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY d2 ASC, c ASC) AS rn
                FROM dist)
              WHERE rn = 1),
            probes AS (
              SELECT vec_id AS query_id, c AS list_id FROM (
                SELECT vec_id, c,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY d2 ASC, c ASC) AS rn
                FROM dist WHERE vec_id < 10)
              WHERE rn <= 3),
            cand AS (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                            CAST(ea.embedding AS DOUBLE[]))
                         AS cos
              FROM probes p JOIN assigned a USING (list_id)
              JOIN embeddings eq ON eq.vec_id = p.query_id
              JOIN embeddings ea ON ea.vec_id = a.vec_id
              WHERE p.query_id <> a.vec_id)
            SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
                   round(cos, 4) AS cos_sim
            FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY round(cos, 4) DESC, neighbor_id ASC) AS rank,
                     cos
              FROM cand)
            WHERE rank <= 5
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_value_c
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH lagged AS (
              SELECT user_id, event_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         AS prev_ts
              FROM events),
            flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN prev_ts IS NULL
                               OR ts - prev_ts > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_session
              FROM lagged),
            sessioned AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS session_idx
              FROM flagged)
            SELECT user_id, CAST(session_idx AS INT) AS session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM sessioned GROUP BY user_id, session_idx
        """,
        "events_top_users": """
            SELECT user_id, total_value_c, n_events, CAST(rank AS INT) AS rank
            FROM (
              SELECT user_id, total_value_c, n_events,
                     row_number() OVER (ORDER BY total_value_c DESC, user_id ASC)
                         AS rank
              FROM (
                SELECT user_id,
                       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                           AS total_value_c,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY user_id))
            WHERE rank <= 10
        """,
        "events_type_totals_salted": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_value_c
            FROM events GROUP BY event_type
        """,
        "events_asof_join": """
            -- refs pre-deduped to ONE row per (user_id, ts) — max event_id,
            -- the same tie choice the Spark carry-forward window makes —
            -- so the ASOF join is deterministic even at exact-ts ties
            WITH ref AS (
              SELECT user_id, ts, max(event_id) AS event_id FROM events
              WHERE event_type = 'view' GROUP BY user_id, ts)
            SELECT e.event_id, r.event_id AS asof_event_id,
                   r.ts AS asof_ts
            FROM events e ASOF LEFT JOIN ref r
              ON e.user_id = r.user_id AND e.ts >= r.ts
        """,
        "docs_rollup": """
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """,
        "token_set_ops": """
            WITH tok_en AS (SELECT DISTINCT unnest(string_split(text,' ')) AS tok
                            FROM documents WHERE lang = 'en'),
                 tok_fr AS (SELECT DISTINCT unnest(string_split(text,' ')) AS tok
                            FROM documents WHERE lang = 'fr'),
                 tok_es AS (SELECT DISTINCT unnest(string_split(text,' ')) AS tok
                            FROM documents WHERE lang = 'es'),
                 u AS (
                   SELECT 'en_minus_fr' AS set_kind, tok
                   FROM (SELECT tok FROM tok_en EXCEPT SELECT tok FROM tok_fr)
                   UNION ALL
                   SELECT 'en_and_es' AS set_kind, tok
                   FROM (SELECT tok FROM tok_en INTERSECT SELECT tok FROM tok_es))
            SELECT set_kind, CAST(count(*) AS BIGINT) AS n_tokens
            FROM u GROUP BY set_kind
        """,
        "docs_above_lang_avg": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     avg(n_chars) OVER (PARTITION BY lang) AS lang_avg
              FROM documents)
            WHERE n_chars > lang_avg
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                       AS sum_qty_c,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_base_c,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS sum_disc_c,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_top_suppliers": """
            SELECT s_suppkey, s_name, revenue_c, CAST(rank AS INT) AS rank
            FROM (
              SELECT s_suppkey, s_name, revenue_c,
                     row_number() OVER (ORDER BY revenue_c DESC, s_suppkey ASC)
                         AS rank
              FROM (
                SELECT s_suppkey, s_name,
                       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS revenue_c
                FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                GROUP BY s_suppkey, s_name))
            WHERE rank <= 10
        """,
        "tpch_region_revenue": """
            SELECT r_name,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS revenue_c,
                   CAST(count(*) AS BIGINT) AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        # Q18 shape: HAVING on the qty rollup BEFORE the fact joins;
        # row_number over (price desc, orderkey asc) is a total order
        # Gonzalez farthest-point coreset: unrolled incremental-min
        # argmax rounds, packed min-id tiebreak
        "kcenter_coreset": f"""
            WITH {_kcenter_ctes(6)}
            SELECT CAST(1 AS INT) AS rank,
                   CAST(c AS BIGINT) AS vec_id,
                   CAST(NULL AS BIGINT) AS d2_sel FROM kc0
            {"".join(
                f'''UNION ALL SELECT CAST({r + 1} AS INT),
                   CAST(c AS BIGINT), CAST(d2sel AS BIGINT) FROM kc{r}
            ''' for r in range(1, 6)
            )}
        """,
        # k-truss peel: unrolled per-round triangle support + filter
        # over the clique+strip fixture
        "ktruss_edges": f"""
            WITH {_truss_ctes(4, 4)}
            SELECT lo, hi FROM tu4
        """,
        # Q6 shape: single pushdown scan, 1e-4-dollar integer units
        "tpch_revenue_delta": """
            SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(l_discount * 100) AS BIGINT))
                       AS BIGINT) AS revenue_tenthmilli,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount >= 0.045 AND l_discount <= 0.075
              AND l_quantity < 24
        """,
        # Q10 shape: returned revenue per customer, top-20
        "tpch_returned_items": """
            SELECT c_custkey, c_name, nation_name, acctbal_c, revenue_c,
                   CAST(rank AS INT) AS rank
            FROM (
              SELECT c_custkey, c_name, n_name AS nation_name,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c,
                     revenue_c,
                     row_number() OVER (ORDER BY revenue_c DESC,
                                        c_custkey ASC) AS rank
              FROM (
                SELECT o_custkey,
                       CAST(sum(CAST(round(l_extendedprice
                            * (1 - l_discount) * 100) AS BIGINT))
                            AS BIGINT) AS revenue_c
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_returnflag = 'R'
                  AND o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate <  TIMESTAMP '1996-04-01'
                GROUP BY o_custkey) r
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey)
            WHERE rank <= 20
        """,
        # Simpson concentration per source: exact-rational pair
        # probability, no transcendental
        "simpson_diversity": """
            WITH cells AS (SELECT source, lang,
                                  CAST(count(*) AS BIGINT) AS c
                           FROM documents GROUP BY source, lang),
            g AS (SELECT source,
                         CAST(count(*) AS BIGINT) AS n_items,
                         CAST(sum(c) AS BIGINT) AS n_docs,
                         CAST(sum(c * (c - 1)) AS BIGINT) AS pair_w
                  FROM cells GROUP BY source)
            SELECT source, n_items, n_docs,
                   (pair_w * 1000000)
                       // greatest(n_docs * (n_docs - 1), 1)
                       AS lambda_micro
            FROM g
        """,
        # Hill tail index over user activity: top-(k+1) order
        # statistics, per-item micro-nat floors (order-free sum)
        "hill_tail_index": """
            WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
                       FROM events GROUP BY user_id),
            top AS (SELECT x FROM c ORDER BY x DESC LIMIT 11),
            thr AS (SELECT CAST(min(x) AS BIGINT) AS x_thr FROM top),
            s AS (SELECT x_thr,
                         CAST(count(*) AS BIGINT) AS k_used,
                         CAST(sum(CAST(floor(
                             ln(CAST(x AS DOUBLE) / CAST(x_thr AS DOUBLE))
                             * CAST(1000000 AS DOUBLE)) AS BIGINT))
                             AS BIGINT) AS s_micro
                  FROM top CROSS JOIN thr
                  WHERE x > x_thr GROUP BY x_thr)
            SELECT x_thr, k_used, s_micro,
                   (k_used * 1000000000) // greatest(s_micro, 1)
                       AS alpha_milli
            FROM s
        """,
        # Chao1 per-lang trigram richness: abundance counts, both
        # correction forms as one CASE'd floor division
        "chao1_richness": """
            WITH tk AS (SELECT d.doc_id, d.lang,
                               unnest(string_split(d.text, ' ')) AS tok,
                               generate_subscripts(
                                   string_split(d.text, ' '), 1) - 1
                                   AS pos
                        FROM documents d),
            g3 AS (SELECT a.lang,
                          a.tok || ' ' || b.tok || ' ' || c.tok AS g
                   FROM tk a
                   JOIN tk b ON a.doc_id = b.doc_id
                            AND b.pos = a.pos + 1
                   JOIN tk c ON a.doc_id = c.doc_id
                            AND c.pos = a.pos + 2),
            ty AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS c
                   FROM g3 GROUP BY lang, g),
            ag AS (SELECT lang,
                          CAST(count(*) AS BIGINT) AS n_types,
                          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                               AS BIGINT) AS f1,
                          CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                               AS BIGINT) AS f2
                   FROM ty GROUP BY lang)
            SELECT lang, n_types, f1, f2,
                   n_types + CASE WHEN f2 > 0
                                  THEN (f1 * f1) // (2 * f2)
                                  ELSE (f1 * (f1 - 1)) // 2 END
                       AS chao1
            FROM ag
        """,
        # per-state branching entropy: same pair CTE, integer ratios
        # under one ln per cell, micro-nat floors before the sum
        "markov_entropy_rate": """
            WITH seq AS (
              SELECT user_id, event_type AS to_type,
                     lag(event_type) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         AS from_type
              FROM events
            ),
            p AS (SELECT from_type, to_type,
                         CAST(count(*) AS BIGINT) AS n_pairs
                  FROM seq WHERE from_type IS NOT NULL
                  GROUP BY from_type, to_type),
            m AS (SELECT from_type, to_type, n_pairs,
                         CAST(sum(n_pairs) OVER
                             (PARTITION BY from_type) AS BIGINT)
                             AS n_from
                  FROM p),
            t AS (SELECT from_type, n_from,
                         CAST(floor((CAST(n_pairs AS DOUBLE)
                                     / CAST(n_from AS DOUBLE))
                              * ln(CAST(n_from AS DOUBLE)
                                   / CAST(n_pairs AS DOUBLE))
                              * CAST(1000000 AS DOUBLE)) AS BIGINT)
                             AS tt
                  FROM m)
            SELECT from_type,
                   CAST(max(n_from) AS BIGINT) AS n_transitions,
                   CAST(count(*) AS BIGINT) AS n_branches,
                   CAST(sum(tt) AS BIGINT) AS h_micro
            FROM t GROUP BY from_type
        """,
        # modal-guess hit rate over the markov matrix: the same lag
        # pair CTE as events_markov + a per-from argmax row_number
        "markov_eval": """
            WITH seq AS (
              SELECT user_id, event_type AS to_type,
                     lag(event_type) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         AS from_type
              FROM events
            ),
            p AS (SELECT from_type, to_type,
                         CAST(count(*) AS BIGINT) AS n_pairs
                  FROM seq WHERE from_type IS NOT NULL
                  GROUP BY from_type, to_type),
            m AS (SELECT from_type, to_type, n_pairs,
                         CAST(sum(n_pairs) OVER
                             (PARTITION BY from_type) AS BIGINT)
                             AS n_from,
                         row_number() OVER (PARTITION BY from_type
                             ORDER BY n_pairs DESC, to_type) AS rk
                  FROM p)
            SELECT from_type, to_type AS predicted,
                   n_from AS n_transitions,
                   n_pairs AS n_hits,
                   (n_pairs * 1000) // n_from AS hit_milli
            FROM m WHERE rk = 1
        """,
        # Q8 shape: NATION_2's milli-share of ASIA's ECONOMY revenue
        "tpch_market_share": """
            WITH rev AS (
              SELECT l.l_orderkey, l.l_suppkey,
                     CAST(round(l.l_extendedprice * (1 - l.l_discount)
                          * 100) AS BIGINT) AS rev_c
              FROM lineitem l
              JOIN part p ON p.p_partkey = l.l_partkey
              WHERE p.p_type = 'ECONOMY'),
            mkt AS (SELECT c_custkey FROM customer
                    JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
                    WHERE r_name = 'ASIA'),
            ords AS (SELECT o_orderkey,
                            CAST(year(o_orderdate) AS BIGINT) AS o_year
                     FROM orders JOIN mkt ON o_custkey = c_custkey),
            supp AS (SELECT s_suppkey, n_name AS supp_nation
                     FROM supplier
                     JOIN nation ON s_nationkey = n_nationkey),
            j AS (SELECT o.o_year, s.supp_nation, r.rev_c
                  FROM rev r
                  JOIN ords o ON o.o_orderkey = r.l_orderkey
                  JOIN supp s ON s.s_suppkey = r.l_suppkey),
            g AS (SELECT o_year,
                         CAST(sum(CASE WHEN supp_nation = 'NATION_2'
                              THEN rev_c ELSE 0 END) AS BIGINT)
                             AS nation_rev_c,
                         CAST(sum(rev_c) AS BIGINT) AS total_rev_c
                  FROM j GROUP BY o_year)
            SELECT o_year, nation_rev_c, total_rev_c,
                   (nation_rev_c * 1000) // greatest(total_rev_c, 1)
                       AS share_milli
            FROM g
        """,
        # Q9 shape: widget-part revenue by supplier nation x year
        "tpch_product_profit": """
            SELECT n_name AS nation_name,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(sum(CAST(round(l_extendedprice
                        * (1 - l_discount) * 100) AS BIGINT))
                        AS BIGINT) AS amount_c,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY n_name, year(o_orderdate)
        """,
        # Q17 shape: Brand#13 small-quantity lines (5*qty*n < sumq)
        "tpch_small_qty_revenue": """
            WITH pp AS (SELECT p_partkey FROM part
                        WHERE p_brand = 'Brand#13'),
            li AS (SELECT l.l_partkey,
                          CAST(l.l_quantity AS BIGINT) AS qty,
                          CAST(round(l.l_extendedprice * 100) AS BIGINT)
                              AS price_c
                   FROM lineitem l
                   JOIN pp ON pp.p_partkey = l.l_partkey),
            ag AS (SELECT l_partkey,
                          CAST(count(*) AS BIGINT) AS n_p,
                          CAST(sum(qty) AS BIGINT) AS sumq_p
                   FROM li GROUP BY l_partkey),
            f AS (SELECT li.price_c FROM li
                  JOIN ag ON ag.l_partkey = li.l_partkey
                  WHERE 5 * li.qty * ag.n_p < 1 * ag.sumq_p),
            t AS (SELECT CAST(COALESCE(sum(price_c), 0) AS BIGINT)
                             AS total_c,
                         CAST(count(*) AS BIGINT) AS n_lines
                  FROM f)
            SELECT total_c // 7 AS avg_yearly_c, total_c, n_lines
            FROM t
        """,
        # Q20 shape: hot*-part suppliers over 300 units in 1997
        "tpch_promo_suppliers": """
            WITH pp AS (SELECT p_partkey FROM part
                        WHERE p_name LIKE 'hot%'),
            per AS (SELECT l_suppkey,
                           CAST(sum(CAST(l_quantity AS BIGINT))
                                AS BIGINT) AS qty_sum
                    FROM lineitem
                    JOIN pp ON pp.p_partkey = l_partkey
                    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                      AND l_shipdate <  TIMESTAMP '1998-01-01'
                    GROUP BY l_suppkey
                    HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
            SELECT s_suppkey, s_name, n_name AS nation_name, qty_sum
            FROM per
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
        """,
        # Q12 shape: late lines split by order-priority criticality
        "tpch_late_line_priority": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                        AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                        AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 60 DAYS
            GROUP BY l_linestatus
        """,
        # Q16 shape: distinct suppliers per (brand, type, size) minus
        # the excluded brand and arrears suppliers
        "tpch_supplier_part_types": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#13'
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        # Q19 shape: OR-triple of (brand, size band, qty band) branches
        "tpch_discounted_revenue": """
            SELECT p_brand,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                        * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 50
                   AND l_quantity BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 50
                   AND l_quantity BETWEEN 10 AND 25)
               OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 45
                   AND l_quantity BETWEEN 20 AND 35)
            GROUP BY p_brand
        """,
        # Q21 shape: sole-latest-shipper counts in multi-supplier orders
        "tpch_waiting_suppliers": """
            WITH ps AS (SELECT l_orderkey, l_suppkey,
                               max(l_shipdate) AS supp_last
                        FROM lineitem GROUP BY 1, 2),
            po AS (SELECT l_orderkey, count(*) AS n_supp,
                          max(supp_last) AS order_last
                   FROM ps GROUP BY 1),
            sole AS (SELECT ps.l_orderkey, count(*) AS n_at_max,
                            max(ps.l_suppkey) AS the_supp
                     FROM ps JOIN po ON ps.l_orderkey = po.l_orderkey
                     WHERE po.n_supp >= 2
                       AND ps.supp_last = po.order_last
                     GROUP BY ps.l_orderkey),
            w AS (SELECT the_supp, CAST(count(*) AS BIGINT) AS numwait
                  FROM sole WHERE n_at_max = 1 GROUP BY the_supp)
            SELECT s_suppkey, s_name, numwait, CAST(rank AS INT) AS rank
            FROM (
              SELECT the_supp AS s_suppkey, s_name, numwait,
                     row_number() OVER (ORDER BY numwait DESC,
                                        the_supp ASC) AS rank
              FROM w JOIN supplier ON the_supp = supplier.s_suppkey)
            WHERE rank <= 20
        """,
        # Q22 shape: rich-but-lapsed customers per nation; the avg
        # threshold is integer cross-multiplied (bal*n > sum)
        "tpch_idle_customers": """
            WITH pos AS (
              SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                          AS BIGINT) AS sum_pos_c,
                     CAST(count(*) AS BIGINT) AS n_pos
              FROM customer WHERE c_acctbal > 0)
            SELECT n_name AS nation_name,
                   CAST(count(*) AS BIGINT) AS numcust,
                   CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
            FROM (SELECT c_custkey, c_nationkey,
                         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                  FROM customer, pos
                  WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos
                        > sum_pos_c) rich
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_orderdate
                                          >= TIMESTAMP '2000-01-01')
            GROUP BY n_name
        """,
        # Q2-shaped packed argmin: cheapest unit cost, tie -> min
        # suppkey; integer cents/unit exact on both engines
        "tpch_min_cost_supplier": """
            WITH u AS (SELECT l_partkey AS pk, l_suppkey AS sk,
                              (CAST(round(l_extendedprice * 100)
                                    AS BIGINT) * 100)
                                  // CAST(round(l_quantity * 100)
                                          AS BIGINT) AS unit_c
                       FROM lineitem),
            b AS (SELECT pk, min(unit_c * 1048576 + sk) AS bp
                  FROM u GROUP BY pk),
            pick AS (SELECT pk,
                            CAST(bp % 1048576 AS BIGINT) AS best_suppkey,
                            CAST(bp // 1048576 AS BIGINT) AS unit_cost_c
                     FROM b)
            SELECT p.p_partkey, p.p_name,
                   pick.best_suppkey AS s_suppkey, s.s_name,
                   n.n_name AS nation_name, pick.unit_cost_c
            FROM pick
            JOIN part p ON pick.pk = p.p_partkey
            JOIN supplier s ON pick.best_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
        """,
        # Q11-shaped global threshold: value > 5/4 average per-part
        # revenue, integer cross-multiplied (no division)
        "tpch_important_parts": """
            WITH v AS (SELECT l_partkey,
                              CAST(sum(CAST(round(l_extendedprice * 100)
                                            AS BIGINT)) AS BIGINT)
                                  AS value_c
                       FROM lineitem GROUP BY l_partkey),
            t AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c,
                         CAST(count(*) AS BIGINT) AS n_parts FROM v)
            SELECT l_partkey, value_c,
                   CAST(value_c * 1000000 // total_c AS BIGINT)
                       AS share_micro
            FROM v, t WHERE value_c * n_parts * 4 > 5 * total_c
        """,
        "tpch_large_orders": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   total_price_c, sum_qty_c, CAST(rank AS INT) AS rank
            FROM (
              SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                     CAST(round(o_totalprice * 100) AS BIGINT)
                         AS total_price_c,
                     sum_qty_c,
                     row_number() OVER (
                         ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)
                                  DESC, o_orderkey ASC) AS rank
              FROM (
                SELECT l_orderkey,
                       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                            AS BIGINT) AS sum_qty_c
                FROM lineitem GROUP BY l_orderkey
                HAVING sum(CAST(round(l_quantity * 100) AS BIGINT))
                       > 15000) q
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey  = c_custkey)
            WHERE rank <= 100
        """,
        # Q7 shape generalized: all cross-border (supp, cust) nation
        # pairs per ship year inside the window
        "tpch_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                        * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
                   CAST(count(*) AS BIGINT) AS n_lineitems
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name <> n2.n_name
              AND l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY 1, 2, 3
        """,
        "tpch_promo_share": """
            SELECT p_brand,
                   CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                        THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_revenue_c,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS total_revenue_c,
                   CAST(count(*) AS BIGINT) AS n_lineitems
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "tpch_shipping_priority": """
            SELECT l_orderkey, revenue_c, o_orderdate, o_orderpriority,
                   CAST(rank AS INT) AS rank
            FROM (
              SELECT l_orderkey, revenue_c, o_orderdate, o_orderpriority,
                     row_number() OVER (ORDER BY revenue_c DESC,
                                        l_orderkey ASC) AS rank
              FROM (
                SELECT l_orderkey,
                       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                            * 100) AS BIGINT)) AS BIGINT) AS revenue_c
                FROM lineitem GROUP BY l_orderkey) rv
              JOIN orders ON l_orderkey = o_orderkey)
            WHERE rank <= 10
        """,
        "media_features": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   'image' AS media_type,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   substr(sha256(text), 1, 16) AS content_hash,
                   CAST(((strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1))
                      * 4 + 64 AS INT) AS width,
                   CAST(((strpos('0123456789abcdef', substr(sha256(text), 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(sha256(text), 4, 1)) - 1))
                      * 4 + 64 AS INT) AS height,
                   'ok:fake-decode' AS status
            FROM documents
        """,
        "media_resize_plan": """
            WITH dims AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     ((strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1))
                      * 4 + 64 AS w,
                     ((strpos('0123456789abcdef', substr(sha256(text), 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(sha256(text), 4, 1)) - 1))
                      * 4 + 64 AS h
              FROM documents),
            scaled AS (
              SELECT media_id, w, h,
                     least(1.0, 256.0 / greatest(CAST(w AS DOUBLE),
                                                 CAST(h AS DOUBLE))) AS s
              FROM dims)
            SELECT media_id,
                   CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
                   -- round-half-up via floor(x + 0.5), matching resize_plan
                   -- (w*s lands at max_side - epsilon in doubles; CAST
                   -- would round in DuckDB but truncate in Spark)
                   CAST(greatest(1, floor(w * s + 0.5)) AS INT) AS dst_w,
                   CAST(greatest(1, floor(h * s + 0.5)) AS INT) AS dst_h,
                   round(s, 6) AS scale
            FROM scaled
        """,
        "doc_length_quantiles": """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90,
                   round(quantile_cont(n_chars, 0.99), 4) AS p99
            FROM documents GROUP BY lang
        """,
        "frame_sample_plan": """
            SELECT doc_id AS media_id,
                   CAST(unnest(generate_series(0, CAST(n_chars AS BIGINT) - 1, 10))
                        AS INT) AS frame_idx
            FROM documents
        """,
        # extract_flagship / extract_spans / extract_lineage / ivf_topk:
        # non-SQL-expressible (full DOM+density pipeline / KMeans) →
        # rows-only check.
    }
    # the registry row dedup_components_lss runs dedup_components
    sql["dedup_components_lss"] = sql["dedup_components"]
    return sql
