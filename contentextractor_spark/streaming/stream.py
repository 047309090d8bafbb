"""Structured Streaming surface of the engine.

The reference is batch-only (SURVEY.md §2.7: no streaming), but the
production shape of a crawl-extraction pipeline is incremental: pages land
in the table continuously and extraction keeps up.  This module exposes the
SAME per-document extraction as a streaming stage — the mapInPandas UDF is
stateless, so it composes with readStream unchanged — plus the standard
windowed/watermarked aggregation and an applyInPandasWithState custom
stateful operator over the `events` stream table.

Scale notes: checkpointing makes the stream exactly-once into the sink;
maxFilesPerTrigger bounds per-micro-batch memory exactly like the Arrow
batch cap bounds per-task memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.events import _value_cents
from ..plans.pipeline import (
    EXTRACT_SCHEMA,
    HEADINGS_SCHEMA,
    LINKS_SCHEMA,
    LISTS_SCHEMA,
    PAGES_SCHEMA,
    TABLES_SCHEMA,
    _extract_batches,
    _extract_heading_batches,
    _extract_link_batches,
    _extract_list_batches,
    _extract_table_batches,
    _keyed_pages,
)


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Incremental scan of a pages directory (parquet landing zone)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


# Every stream_extract_* below keys pages through pipeline._keyed_pages —
# the batch path's ensure_pyfiles + salted_bucket, so salt parity with
# resume_filter / read_committed_output is structural — and then runs the
# batch stage's own mapInPandas body.  Unlike the batch plan there is no
# repartition: each micro-batch maps where it lands.


def stream_extract(pages_stream: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Streaming extraction: identical semantics to the batch stage — the
    same _extract_batches function — so batch/stream parity is by
    construction (tested in tests/test_streaming.py)."""
    keyed = _keyed_pages(pages_stream, "html", num_buckets)
    return keyed.mapInPandas(_extract_batches, schema=EXTRACT_SCHEMA)


def stream_extract_links(pages_stream: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Streaming link extraction: the SAME _extract_link_batches flat-map
    as the batch stage, so the host link graph can be fed incrementally as
    pages land (batch/stream parity by construction, tested)."""
    keyed = _keyed_pages(pages_stream, "html", num_buckets)
    return keyed.mapInPandas(_extract_link_batches, schema=LINKS_SCHEMA)


def stream_extract_tables(pages_stream: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Streaming table extraction: the SAME _extract_table_batches
    flat-map as the batch stage (plans.pipeline.extract_tables), so
    structured-table feeds build incrementally as pages land —
    batch/stream parity by construction, tested."""
    keyed = _keyed_pages(pages_stream, "html", num_buckets)
    return keyed.mapInPandas(_extract_table_batches, schema=TABLES_SCHEMA)


def stream_extract_lists(pages_stream: DataFrame, num_buckets: int = 32) -> DataFrame:
    """Streaming list extraction: the SAME _extract_list_batches flat-map
    as the batch stage (plans.pipeline.extract_lists) — item numbering is
    per-page state inside one flat-map row-group, so incremental arrival
    cannot change any page's rows; batch/stream parity by construction,
    tested."""
    keyed = _keyed_pages(pages_stream, "html", num_buckets)
    return keyed.mapInPandas(_extract_list_batches, schema=LISTS_SCHEMA)


def stream_extract_headings(
    pages_stream: DataFrame, num_buckets: int = 32
) -> DataFrame:
    """Streaming outline extraction: the SAME _extract_heading_batches
    flat-map as the batch stage (plans.pipeline.extract_headings).
    Outline numbering is per-page state inside one flat-map row-group, so
    incremental arrival cannot change any page's numbering — parity by
    construction, tested."""
    keyed = _keyed_pages(pages_stream, "html", num_buckets)
    return keyed.mapInPandas(_extract_heading_batches, schema=HEADINGS_SCHEMA)


def write_stream(
    extracted: DataFrame, output_dir: str, checkpoint_dir: str, available_now: bool = True
):
    """Exactly-once parquet sink with checkpoint; availableNow drains the
    backlog then stops (used by tests + backfill runs)."""
    w = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_event_counts(events_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream:
    late rows beyond the watermark are dropped, state is bounded."""
    # parquet landing zones often carry TIMESTAMP_NTZ; watermarks need
    # an instant-typed column
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # the batch twin's cents fold, imported — exact under any
            # partial-agg association order (a rounded double sum is not)
            F.sum(_value_cents(F.col("value"))).alias("sum_value_c"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_c",
        )
    )


# --- custom stateful operator: per-user running session stats -------------

SESSION_STATE_SCHEMA = StructType(
    [StructField("n_events", LongType()), StructField("last_ts", TimestampType())]
)
SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events_total", LongType()),
        StructField("last_ts", TimestampType()),
        StructField("status", StringType()),
    ]
)


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    total = 0
    last_ts = None
    if state.exists:
        total, last_ts = state.get
    for pdf in pdfs:
        total += len(pdf)
        mx = pdf["ts"].max()
        if pd.isna(mx):  # all-null chunk contributes no timestamp — and a
            # NaT must NEVER enter last_ts ('mx > NaT' is always False, so
            # real timestamps would be locked out forever; r3 review)
            continue
        if last_ts is None or pd.isna(last_ts) or mx > last_ts:
            last_ts = mx
    state.update((total, last_ts))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events_total": [total],
            "last_ts": [last_ts],
            "status": ["active"],
        }
    )


def running_user_stats(events_stream: DataFrame) -> DataFrame:
    """applyInPandasWithState: arbitrary per-key running state — the
    'custom stateful operator' escape hatch for semantics windows can't
    express (SURVEY.md has no counterpart; this is the Spark-native idiom)."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events_stream(
    events_stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exactly-once ingest dedup: dropDuplicatesWithinWatermark on
    the event key.  State is BOUNDED — a key's dedup record ages out once
    the watermark passes it, so 10^12-event streams don't accrete unbounded
    state the way a plain dropDuplicates would; duplicates arriving later
    than the watermark are the documented (and alert-able) escape."""
    s = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return s.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# ---------------------------------------------------------------------------
# Streaming sketches (r4): the batch sketch aggregations ARE their own
# streaming merge operators — HLL's groupBy(register).max(rho) and CMS's
# groupBy(row, col).count() are associative+commutative over any split of
# the input, so the streaming state is bounded by the sketch size (m rows
# / d*w cells) no matter how long the stream runs.  This is the property
# that makes sketches the 100 TB cardinality/frequency tools: a crawl
# stream keeps a 256-row HLL state forever instead of a distinct-set.
# ---------------------------------------------------------------------------

def stream_hll_registers(docs_stream: DataFrame, p: int = 8, n: int = 3) -> DataFrame:
    """Streaming HyperLogLog register table over a `documents`-shaped
    stream (doc_id, text).  Identical expressions to the batch
    analysis.hll_registers (shared _hll_reg_rho), so stream == batch on
    the same rows by construction — tested.  Use outputMode
    'complete'/'update': state is exactly m = 2^p rows."""
    from ..functions.analysis import _gram_stream, _hll_reg_rho

    reg, rho = _hll_reg_rho(p)
    return (
        _gram_stream(docs_stream, n)
        .select(reg.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


def stream_cms_sketch(
    docs_stream: DataFrame, n: int = 1, d: int = 4, w: int = 512
) -> DataFrame:
    """Streaming count-min sketch over a documents stream: bounded state
    (<= d*w counter rows), same _cms_cells hash definition as the batch
    sketch, so stream == batch on the same rows — tested."""
    from ..functions.analysis import _cms_cells, _gram_stream

    return (
        _gram_stream(docs_stream, n)
        .select(F.explode(_cms_cells(d, w)).alias("c"))
        .select(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def stream_latest_snapshot(
    snaps_stream: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming newest-snapshot-per-key over a recrawl stream: the batch
    latest_snapshot's packed-bigint argmax (ts*2^20 + id) IS its own
    streaming merge — max() is associative+commutative over any split of
    the stream, so state is ONE long per live key and a key's winner only
    ever advances.  Identical packing to analysis.latest_snapshot, so
    stream == batch on the same rows by construction — tested.  Use
    outputMode 'complete'/'update'; at crawl scale the state is one row
    per canonical URL (the same cardinality the batch job shuffles)."""
    from ..functions.analysis import latest_snapshot

    return latest_snapshot(
        snaps_stream, key_col=key_col, ts_col=ts_col, id_col=id_col
    )


def stream_dataset_digest(
    docs_stream: DataFrame, n_shards: int = 16, group_col: str = "lang"
) -> DataFrame:
    """Streaming per-(group, shard) content digest over a documents
    stream: the batch dataset_digest's (count, sum-of-row-hashes) pair
    is a commutative monoid, so the aggregation IS its own streaming
    merge — state is one (count, sum) per live (group, shard) cell
    (bounded: groups x n_shards rows), and stream == batch on the same
    rows by construction (shared expressions) — tested.  The live-ingest
    use: a continuously-maintained digest table that a downstream
    snapshot comparison reads without rescanning the corpus."""
    from ..functions.analysis import dataset_digest

    return dataset_digest(
        docs_stream, n_shards=n_shards, group_col=group_col
    )


def stream_parse_feeds(feeds_stream: DataFrame) -> DataFrame:
    """Streaming RSS/Atom ingestion: the SAME _feed_batches flat-map as
    the batch parse_feeds, so the freshness-crawl discovery channel can
    run as a continuous poll loop (batch/stream parity by construction,
    tested).  Delegates to the batch function outright (the
    stream_latest_snapshot pattern) so a future parse_feeds change —
    e.g. salted routing — cannot skip the twin."""
    from ..plans.pipeline import parse_feeds

    return parse_feeds(feeds_stream)


def stream_weighted_sample(
    docs_stream: DataFrame,
    weight_col: str = "n_chars",
    w_max: int = 300,
    salt: str = "ws0",
) -> DataFrame:
    """Streaming weighted Bernoulli subsampling: the batch
    weighted_sample is a stateless row-local filter (the keep decision
    is a pure function of doc_id + the salt), so it applies to a stream
    unchanged — zero state, append mode, and stream == batch on the same
    rows by construction (shared expressions) — tested.  The live-ingest
    use: thin a firehose to a length-weighted sample BEFORE the
    expensive extraction stage ever sees it — which is why this twin
    passes project=False: the payload columns (text/html/url) survive
    the filter, so the next stage consumes them directly instead of
    joining back against the source (review finding)."""
    from ..functions.analysis import weighted_sample

    return weighted_sample(
        docs_stream,
        weight_col=weight_col,
        w_max=w_max,
        salt=salt,
        project=False,
    )


def stream_quality_means(
    docs_stream: DataFrame, batch: int = 100
) -> DataFrame:
    """Streaming per-(source, ingest-batch) quality means over a
    documents stream: the batch quality_drift's first stage is a
    single aggregation over (sum, count) monoid cells, so it IS its
    own streaming merge — state bounded by sources × batches, stream
    == batch on the same rows by construction (shared
    _quality_batch_means expressions) — tested.  The drift fold
    (max−min per source + flag) is a second aggregation, which
    Structured Streaming forbids chained — run it batch-side over
    this query's complete-mode output table."""
    from ..functions.analysis import _quality_batch_means

    return _quality_batch_means(docs_stream, batch)


def stream_dp_release(
    docs_stream: DataFrame,
    group_col: str = "source",
    epsilon_milli: int = 1000,
    salt: str = "dp0",
) -> DataFrame:
    """Streaming ε-DP count release: the batch dp_release's per-group
    count is a commutative monoid (its own streaming merge — one long
    of state per live group) and the Laplace noise is a stateless
    projection of the group KEY alone, so the noisy release updates
    continuously while each group's noise stays FIXED across triggers
    (same salted key hash → same draw; spending fresh privacy budget
    is an explicit salt change, never an accident of trigger timing).
    stream == batch on the same rows by construction — tested.  Use
    outputMode 'complete'/'update'."""
    from ..functions.analysis import dp_release

    return dp_release(
        docs_stream,
        group_col=group_col,
        epsilon_milli=epsilon_milli,
        salt=salt,
    )
