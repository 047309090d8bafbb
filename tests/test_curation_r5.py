"""r5 curation operators: corpus-frequency boilerplate lines (onion-style),
latest-snapshot recrawl dedup, and the extended Gopher format rules."""

import pytest
from pyspark.sql import functions as F

from contentextractor_spark.functions import analysis as A


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def bp_docs(spark):
    return _docs(
        spark,
        [
            (0, "Home | About\ncontent zero unique text here.\n© example corp"),
            (1, "Home | About\nmore unique content one.\n© example corp"),
            (2, "Home | About\nthird doc body text.\n© example corp"),
            (3, "Home | About\n© example corp"),
            (4, "totally unique document four"),
            # repeating a line WITHIN one doc counts that doc once
            (5, "Home | About\nHome | About\nself repeat body"),
        ],
    )


def test_boilerplate_lines_distinct_doc_frequency(bp_docs):
    got = {r["line"]: r["n_docs"] for r in A.boilerplate_lines(bp_docs, 4).collect()}
    assert got == {"Home | About": 5, "© example corp": 4}


def test_scrub_preserves_order_and_row_count(bp_docs):
    out = {
        r["doc_id"]: (r["text_clean"], r["n_kept"], r["n_removed"])
        for r in A.scrub_boilerplate_lines(bp_docs, 4).collect()
    }
    assert len(out) == 6  # row count never changes
    assert out[0] == ("content zero unique text here.", 1, 2)
    assert out[3] == ("", 0, 2)  # all-boilerplate doc survives, empty
    assert out[4] == ("totally unique document four", 1, 0)
    assert out[5] == ("self repeat body", 1, 2)  # both copies removed


def test_scrub_multiline_order(spark):
    docs = _docs(
        spark,
        [(i, "common header\nalpha {}\nbeta {}\ngamma {}".format(i, i, i))
         for i in range(5)],
    )
    out = A.scrub_boilerplate_lines(docs, 5).filter(F.col("doc_id") == 2)
    assert out.collect()[0]["text_clean"] == "alpha 2\nbeta 2\ngamma 2"


def test_latest_snapshot_argmax_and_tiebreak(spark):
    snaps = spark.createDataFrame(
        [("u1", 0, 100), ("u1", 1, 300), ("u1", 2, 200),
         ("u2", 3, 50), ("u2", 4, 50),      # ts tie -> max doc_id
         ("u3", 9, 0)],
        "url string, doc_id bigint, ts bigint",
    )
    got = {r["key"]: (r["doc_id"], r["ts"])
           for r in A.latest_snapshot(snaps).collect()}
    assert got == {"u1": (1, 300), "u2": (4, 50), "u3": (9, 0)}


def test_latest_snapshot_refuses_out_of_bounds(spark):
    snaps = spark.createDataFrame(
        [("u1", 2**21, 5)], "url string, doc_id bigint, ts bigint"
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        A.latest_snapshot(snaps).collect()
    assert "packing bounds" in str(ei.value)


def test_latest_snapshot_refuses_mixed_bad_row(spark):
    # max() ignores nulls: a single out-of-bounds row mixed into a group
    # of VALID rows must still fail loudly, not silently lose the argmax
    # candidate (r5 session-2 fix — the flag aggregate)
    snaps = spark.createDataFrame(
        [("u1", 1, 100), ("u1", 2**21, 999), ("u2", 3, 50)],
        "url string, doc_id bigint, ts bigint",
    )
    with pytest.raises(Exception) as ei:
        A.latest_snapshot(snaps).collect()
    assert "packing bounds" in str(ei.value)


def test_snapshot_retention_rank_and_tiebreak(spark):
    snaps = spark.createDataFrame(
        [("u1", 0, 100), ("u1", 1, 300), ("u1", 2, 200), ("u1", 5, 150),
         ("u2", 3, 50), ("u2", 4, 50), ("u2", 6, 50),  # all-tie group
         ("u3", 9, 0)],
        "url string, doc_id bigint, ts bigint",
    )
    got = {(r["key"], r["rk"]): (r["doc_id"], r["ts"])
           for r in A.snapshot_retention(snaps, n_keep=2).collect()}
    assert got == {
        ("u1", 1): (1, 300), ("u1", 2): (2, 200),
        ("u2", 1): (6, 50), ("u2", 2): (4, 50),  # ties break to max id
        ("u3", 1): (9, 0),
    }


def test_snapshot_retention_head_equals_latest(spark):
    # rk=1 rows must reproduce latest_snapshot exactly (shared packed
    # ordering convention)
    snaps = spark.createDataFrame(
        [("u%d" % (i % 7), i, (i * 37) % 100) for i in range(50)],
        "url string, doc_id bigint, ts bigint",
    )
    head = {(r["key"], r["doc_id"], r["ts"])
            for r in A.snapshot_retention(snaps, n_keep=1).collect()}
    latest = {(r["key"], r["doc_id"], r["ts"])
              for r in A.latest_snapshot(snaps).collect()}
    assert head == latest


def test_snapshot_retention_refuses_out_of_bounds(spark):
    snaps = spark.createDataFrame(
        [("u1", 1, 100), ("u1", 2**21, 999)],
        "url string, doc_id bigint, ts bigint",
    )
    with pytest.raises(Exception) as ei:
        A.snapshot_retention(snaps).collect()
    assert "packing bounds" in str(ei.value)


def test_gopher_rules_each_gate(spark):
    docs = _docs(
        spark,
        [
            (0, "the cat sat on the mat and that was that with style.\n"
                "plain line of words to pad."),
            (1, "# # # # # hash heavy but the and of that have with be to"),
            (2, "- bullet one\n- bullet two\n- bullet three"),
            (3, "trailing dots...\nmore dots...\nclean line here the and of"),
            (4, "12345 67890 11111 22222 33333"),
        ],
    )
    got = {r["doc_id"]: (r["violations"], r["keep"])
           for r in A.gopher_rules(docs).collect()}
    assert got[0] == ("", 1)
    assert "symbol_heavy" in got[1][0] and got[1][1] == 0
    assert "bullet_heavy" in got[2][0]
    assert "ellipsis_heavy" in got[3][0]
    assert "non_alpha_words" in got[4][0] and "few_stopwords" in got[4][0]


def test_gopher_rules_no_shuffle(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        A.gopher_rules(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_component_canonical_argmax_and_tiebreak(spark):
    comps = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)],
        "doc_id bigint, component bigint",
    )
    scores = spark.createDataFrame(
        [(0, 10), (1, 99), (2, 99), (3, 5), (4, 7), (5, 7)],
        "doc_id bigint, score bigint",
    )
    got = {r["component"]: (r["canonical_id"], r["best_score"], r["n_members"])
           for r in A.component_canonical(comps, scores).collect()}
    # comp 0: score tie 99 on docs 1,2 -> MIN id 1 wins
    assert got == {0: (1, 99, 3), 3: (3, 5, 1), 4: (4, 7, 2)}


def test_component_canonical_refuses_out_of_bounds(spark):
    comps = spark.createDataFrame([(2**21, 0)], "doc_id bigint, component bigint")
    scores = spark.createDataFrame([(2**21, 1)], "doc_id bigint, score bigint")
    with pytest.raises(Exception) as ei:
        A.component_canonical(comps, scores).collect()
    assert "packing bounds" in str(ei.value)


def test_crawl_frontier_composition(spark):
    """Links -> dedup+count -> seen anti-join -> robots gate: a target
    linked twice counts n_refs=2 (distinct SOURCES, not link rows); seen
    and robots-blocked targets fall out; hosts case-fold."""
    links = spark.createDataFrame(
        [("p1", "a.example/x", "t", 0, 0, 0),
         ("p1", "a.example/x", "t", 1, 0, 0),   # same page twice -> 1 source
         ("p2", "a.example/x", "t", 0, 0, 0),
         ("p2", "b.example/x", "t", 1, 0, 0),
         ("p3", "c.example/x", "t", 0, 0, 0),   # seen
         ("p3", "d.example/x", "t", 1, 0, 0)],  # robots-blocked
        "url string, href string, anchor string, link_idx int, "
        "bucket_id int, partition_id int",
    )
    seen = spark.createDataFrame([("https://c.example/x",)], "url string")
    rules = A.parse_robots(
        spark.createDataFrame(
            [("D.Example", "User-agent: *\nDisallow: /x")],
            "host string, robots_txt string",
        )
    )
    got = {r["url"]: (r["host"], r["n_refs"])
           for r in A.crawl_frontier(links, seen, rules).collect()}
    assert got == {
        "https://a.example/x": ("a.example", 2),
        "https://b.example/x": ("b.example", 1),
    }


def test_budget_select_greedy_prefix(spark):
    """Best-score-first prefix under a token budget: boundary group
    partially selected in id order; overshooting doc stops selection."""
    rows = [(0, 9, 40), (1, 9, 40), (2, 8, 30), (3, 8, 30),
            (4, 7, 10), (5, 7, 5)]
    df = spark.createDataFrame(rows, "doc_id bigint, score bigint, n_tokens bigint")
    cases = [(80, {0, 1}), (100, {0, 1}), (110, {0, 1, 2}),
             (140, {0, 1, 2, 3}), (150, {0, 1, 2, 3, 4}),
             (155, {0, 1, 2, 3, 4, 5}), (10, set()), (40, {0})]
    for budget, want in cases:
        got = {r["doc_id"] for r in A.budget_select(df, budget).collect()}
        assert got == want, (budget, got, want)


def test_budget_select_no_global_sort(spark):
    """The plan must not contain a single-partition global sort exchange —
    the corpus collapses to the score histogram (length_percentiles
    mechanics); only per-score-group windows touch rows."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scored = docs.selectExpr(
        "doc_id",
        "(n_chars * 10) div size(split(text, ' ')) AS score",
        "cast(size(split(text, ' ')) as bigint) AS n_tokens",
    )
    plan = (
        A.budget_select(scored, 20000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the histogram cum window runs over DISTINCT scores (small); no
    # row-level Sort may sit above an Exchange SinglePartition that
    # carries doc rows — assert the doc-row path has no global sort by
    # checking every SinglePartition exchange feeds an aggregate result
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_crawl_diff_statuses(spark):
    old = spark.createDataFrame(
        [("a", "h1"), ("b", "h2"), ("c", "h3")], "url string, content_hash string"
    )
    new = spark.createDataFrame(
        [("a", "h1"), ("b", "hX"), ("d", "h4")], "url string, content_hash string"
    )
    got = {r["url"]: r["status"] for r in A.crawl_diff(old, new).collect()}
    # 'a' unchanged -> absent; delta-sized output
    assert got == {"b": "changed", "c": "removed", "d": "added"}


# ---------------------------------------------------------------------------
# first-occurrence exact paragraph dedup (r5 session-2)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pd_docs(spark):
    return _docs(
        spark,
        [
            (0, "shared header\nunique zero\nrepeat me\nrepeat me"),
            (1, "shared header\nunique one"),
            (2, "repeat me\nunique two"),
            (3, "shared header"),          # everything a later dup -> ''
            (4, "  shared header  \nspaced"),  # trims to the same paragraph
        ],
    )


def test_paragraph_dedup_first_occurrence_wins(pd_docs):
    from contentextractor_spark.functions import analysis as A2

    out = {
        r["doc_id"]: (r["text_dedup"], r["n_kept"], r["n_removed"])
        for r in A2.paragraph_dedup(pd_docs).collect()
    }
    assert len(out) == 5  # row count preserved
    # doc 0 holds the first occurrence of everything it contains; its own
    # within-doc repeat of 'repeat me' is dropped
    assert out[0] == ("shared header\nunique zero\nrepeat me", 3, 1)
    assert out[1] == ("unique one", 1, 1)
    assert out[2] == ("unique two", 1, 1)
    assert out[3] == ("", 0, 1)
    assert out[4] == ("spaced", 1, 1)


def test_paragraph_dedup_refuses_out_of_bounds_ids(spark):
    from contentextractor_spark.functions import analysis as A2

    bad = _docs(spark, [(2**43, "some text"), (1, "other")])
    with pytest.raises(Exception, match="packing bounds"):
        A2.paragraph_dedup(bad).collect()


def test_sentence_split_rule(spark):
    docs = _docs(
        spark,
        [
            (0, "One sentence. Two now! Three? And no terminal tail"),
            (1, "Dr. Smith arrived.\nNewline boundary. trailing spaces.   "),
            (2, "no punctuation at all"),
            (3, "multi...   spaces. ok."),
        ],
    )
    got = {}
    for r in A.sentence_split(docs).collect():
        got.setdefault(r["doc_id"], []).append((r["sent_pos"], r["sentence"]))
    for v in got.values():
        v.sort()
    assert got[0] == [
        (0, "One sentence."),
        (1, "Two now!"),
        (2, "Three?"),
        (3, "And no terminal tail"),
    ]
    # documented naive rule: 'Dr. ' splits; trailing whitespace after the
    # last '.' leaves an empty piece that is dropped
    assert got[1] == [
        (0, "Dr."),
        (1, "Smith arrived."),
        (2, "Newline boundary."),
        (3, "trailing spaces."),
    ]
    assert got[2] == [(0, "no punctuation at all")]
    # '...' + run of spaces is a boundary too (naive rule, documented)
    assert got[3] == [(0, "multi..."), (1, "spaces."), (2, "ok.")]


def test_politeness_schedule_rank_offsets_and_casefold(spark):
    """Per-host rank (n_refs DESC, url ASC), offset = position * delay;
    the delay table case-folds onto crawl hosts; missing hosts take the
    default; a tie on n_refs breaks by url ASC deterministically."""
    frontier = spark.createDataFrame(
        [("u/a", "H1.Example", 5), ("u/b", "h1.example", 5),  # tie -> url ASC
         ("u/c", "h1.example", 9),                            # top of h1
         ("u/d", "h2.example", 1), ("u/e", "h2.example", 3)],
        "url string, host string, n_refs bigint",
    )
    delays = spark.createDataFrame(
        [("h1.EXAMPLE", 2000)], "host string, delay_ms int"
    )
    got = {r["url"]: (r["host"], r["position"], r["fetch_offset_ms"])
           for r in A.politeness_schedule(frontier, delays).collect()}
    assert got == {
        "u/c": ("h1.example", 0, 0),
        "u/a": ("h1.example", 1, 2000),
        "u/b": ("h1.example", 2, 4000),
        "u/e": ("h2.example", 0, 0),
        "u/d": ("h2.example", 1, 1000),
    }
    # no delay table at all -> every host uses the default
    got2 = {r["url"]: r["fetch_offset_ms"]
            for r in A.politeness_schedule(frontier, None,
                                           default_delay_ms=500).collect()}
    assert got2 == {"u/c": 0, "u/a": 500, "u/b": 1000, "u/e": 0, "u/d": 500}


def test_politeness_schedule_plan_one_shuffle_broadcast_delays(spark):
    """The delay join must be broadcast (host-cardinality dimension) and
    the only row-carrying exchange is the host hash partition for the
    window — no global sort, no shuffle join."""
    frontier = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).selectExpr(
        "'https://h' || (doc_id % 7) || '.example/p/' || doc_id AS url",
        "'h' || (doc_id % 7) || '.example' AS host",
        "cast(doc_id % 13 as bigint) AS n_refs",
    )
    delays = spark.createDataFrame(
        [("h1.example", 2000)], "host string, delay_ms int"
    )
    plan = (
        A.politeness_schedule(frontier, delays)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_lang_profile_majority_tie_and_mixed(spark):
    """Per-sentence labels fold to: majority pred_lang (tie → latin, the
    lang_id convention), is_mixed at minority ≥ 20% (5·min ≥ n); empty-
    text docs drop out (sentence_split contract)."""
    docs = spark.createDataFrame(
        [(0, "one latin sentence only"),
         (1, "latin here. 日本語 テキスト"),                      # 1:1 tie
         (2, "latin here. 日本語 一. 日本語 二. 日本語 三"),      # 1:3
         (3, "日本語 テキスト 文章"),                              # pure cjk
         (4, "a. b. c. d. 日本語"),                               # 4:1 -> 20% edge
         (5, "a. b. c. d. e. 日本語"),                            # 5:1 -> 16% < 20%
         (6, "   ")],
        "doc_id bigint, text string",
    )
    from contentextractor_spark.functions.analysis import lang_profile

    got = {r["doc_id"]: (r["n_sents"], r["n_cjk_sents"], r["pred_lang"],
                         r["is_mixed"])
           for r in lang_profile(docs).collect()}
    assert got == {
        0: (1, 0, "latin", 0),
        1: (2, 1, "latin", 1),   # tie -> latin, mixed
        2: (4, 3, "cjk", 1),
        3: (1, 1, "cjk", 0),
        4: (5, 1, "latin", 1),   # exactly 20% -> mixed (>=)
        5: (6, 1, "latin", 0),   # under 20%
    }
