"""The workloads.  Each one is a closed loop: the Spark driver submits one
pass (one or two Spark jobs) and waits for it before the next.

Every workload offers:
  load(spark)        read its cached inputs
  warm_workers()     one small pass: starts and loads every Python worker
  run_pass()         one timed pass, written to the noop sink
  collect()          one pass whose output comes back to the driver
  check(out)         (attempted, failed, per-document fingerprints)
  trace_pass(group)  one traced pass -> span aggregate, stage metrics
  layer_metrics(...) the per-layer metrics from the traced passes
"""

from __future__ import annotations

import functools
import importlib
import time

import pandas as pd

from . import checks, inputs, sparkstats, tracer

# fixed bucket count (= shuffle partitions): the same job on any core count
BUCKETS = 16
SIMHASH_ARGS = dict(bits=48, n_bands=4, max_bucket_size=100)


def force(df) -> None:
    """Evaluate every column: the noop sink, as bench.py does."""
    df.write.format("noop").mode("overwrite").save()


def _pipeline():
    return importlib.import_module("contentextractor_spark.plans.pipeline")


# per-layer metrics of the extraction layers and of the dedup layers; a
# workload reports the family whose layers it never calls as explicit zeros
PAGE_LAYERS = (
    "extractor.extract_document.ms_per_doc",
    "extractor.decode_html.ms_per_doc",
    "operators.charset.meta_recheck.ms_per_doc",
    "operators.charset.redecode_share",
    "operators.dom.parse_xml.ms_per_doc",
    "operators.dom.parse_xml.calls_per_doc",
    "operators.tagfilter.tag_filtering_dom.ms_per_doc",
    "functions.fused.fused_parse.ms_per_doc",
    "functions.fused.bail_share",
    "functions.textextract.parse.ms_per_doc",
    "functions.tokenize.keyword_list.ms_per_doc",
    "plans.pipeline.shuffle_write_bytes_per_doc",
    "plans.pipeline.udf_stage_task_ms_per_doc",
    "plans.pipeline.plumbing_ms_per_doc",
    "plans.pipeline.jvm_gc_ms_per_doc",
)
DEDUP_LAYERS = (
    "functions.analysis.simhash.ms_per_doc",
    "functions.analysis.simhash_neardup_pairs.ms_per_doc",
    "functions.analysis.components.ms_per_doc",
    "functions.analysis.pairs_per_doc",
    "functions.analysis.jobs",
    "functions.analysis.stages",
    "functions.analysis.shuffle_bytes_per_doc",
    "functions.analysis.held_storage_mb",
)


class _Crawl:
    """Shared by the two page workloads: the page table of ``n`` pages."""

    # pass size: each extract_pages task has a fixed cost, so a small pass
    # times task overhead; on 4 cores a warm pass costs 5.2-7.4 CPU ms/doc
    # at 1500 pages, 4.2-4.5 at 3000, and 3.2-3.8 at both 6000 and 12000
    n = 6000
    # the full collected pass has already run every worker warm
    warm_passes = 1
    # (public op, pipeline batch body that op hands to mapInPandas)
    ops: tuple[tuple[str, str], ...] = ()
    idle_layers = DEDUP_LAYERS

    def __init__(self, seed: int, nproc: int) -> None:
        self.seed, self.nproc = seed, nproc

    def make_inputs(self) -> None:
        self.path = inputs.pages_path(self.n, self.seed, workers=min(4, self.nproc))
        # the default seed's first chunk, checked against its pinned
        # outputs whatever the seed, so a change of output shows on any run
        self.canary_path = inputs.pages_path(inputs.PAGE_CHUNK, checks.DEFAULT_SEED, workers=1)

    def load(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.path)

    def _run(self, pages) -> None:
        pipe = _pipeline()
        for op, _ in self.ops:
            force(getattr(pipe, op)(pages, num_buckets=BUCKETS))

    def warm_workers(self) -> None:
        # BUCKETS tasks of a few rows: every core runs at least one Arrow
        # batch, so each worker imports the package and builds the lexicon
        self._run(self.pages.limit(BUCKETS * 8))

    def run_pass(self) -> None:
        self._run(self.pages)

    def collect(self):
        return self._collect(self.pages)

    def check(self, out) -> tuple[int, int, list[bytes]]:
        ok, values = self._rows(out, self.path, self.seed)
        attempted, failed, prints = _finish(self.name, self.n, self.seed, ok, values)
        canary = self._collect(self.spark.read.parquet(self.canary_path))
        c_ok, c_values = self._rows(canary, self.canary_path, checks.DEFAULT_SEED)
        pinned = checks.pinned(self.name)
        if pinned is not None and len(pinned) >= len(c_values):
            c_ok = [
                good and checks.fingerprint(v) == p
                for good, v, p in zip(c_ok, c_values, pinned)
            ]
        return attempted + len(c_ok), failed + c_ok.count(False), prints

    def trace_pass(self, group: str) -> dict:
        """One pass with each batch body run through tracer.traced_body."""
        sc = self.spark.sparkContext
        acc = sc.accumulator({}, tracer.SpanAccumulator())
        pipe = _pipeline()
        saved = {body: getattr(pipe, body) for _, body in self.ops}
        sc.setJobGroup(group, group)
        try:
            for body in saved:
                setattr(pipe, body, tracer.traced_batches(body, acc))
            t0 = time.perf_counter()
            self._run(self.pages)
            pass_s = time.perf_counter() - t0
        finally:
            for body, fn in saved.items():
                setattr(pipe, body, fn)
            sc.setJobGroup("", "")
        return {
            "spans": acc.value,
            "stages": sparkstats.group_stages(sc, group),
            "pass_s": pass_s,
        }

    def layer_metrics(self, traces: list[dict], docs: int) -> dict[str, float]:
        spans: dict = {}
        stages: list[dict] = []
        for t in traces:
            tracer.merge(spans, t["spans"])
            stages.extend(t["stages"].values())

        def total(field, name, parent=None):
            # field 0: calls, 1: nanoseconds; over every parent by default
            return sum(
                v[field] for (n, p), v in spans.items()
                if n == name and (parent is None or p == parent)
            )

        def ns(name, parent=None):
            return total(1, name, parent)

        def calls(name, parent=None):
            return total(0, name, parent)

        def per_doc_ms(x_ns):
            return x_ns / 1e6 / docs

        top = "extractor.extract_document"
        recheck_ns = (
            ns("operators.charset.meta_declared_charset")
            + ns("operators.charset.java_decode", top)
            + ns("operators.charset.change_charset", top)
        )
        layer_sum_ms = sum(v[1] for (n, p), v in spans.items() if p == "") / 1e6
        task_ms = sum(s["executorRunTime"] for s in stages)
        udf_ms = sum(s["executorRunTime"] for s in stages if s["shuffleReadBytes"] > 0)
        fused = calls("functions.fused.fused_parse")
        return {
            "extractor.extract_document.ms_per_doc": per_doc_ms(ns(top)),
            "extractor.decode_html.ms_per_doc": per_doc_ms(ns("extractor.decode_html")),
            "operators.charset.meta_recheck.ms_per_doc": per_doc_ms(recheck_ns),
            "operators.charset.redecode_share": calls("operators.charset.java_decode", top) / docs,
            "operators.dom.parse_xml.ms_per_doc": per_doc_ms(ns("operators.dom.parse_xml")),
            "operators.dom.parse_xml.calls_per_doc": calls("operators.dom.parse_xml") / docs,
            "operators.tagfilter.tag_filtering_dom.ms_per_doc": per_doc_ms(
                ns("operators.tagfilter.tag_filtering_dom")
            ),
            "functions.fused.fused_parse.ms_per_doc": per_doc_ms(ns("functions.fused.fused_parse")),
            "functions.fused.bail_share": (
                calls("functions.textextract.parse") / fused if fused else 0.0
            ),
            "functions.textextract.parse.ms_per_doc": per_doc_ms(ns("functions.textextract.parse")),
            "functions.tokenize.keyword_list.ms_per_doc": per_doc_ms(
                ns("functions.tokenize.keyword_list")
            ),
            "plans.pipeline.shuffle_write_bytes_per_doc": (
                sum(s["shuffleWriteBytes"] for s in stages) / docs
            ),
            "plans.pipeline.udf_stage_task_ms_per_doc": udf_ms / docs,
            "plans.pipeline.plumbing_ms_per_doc": (udf_ms - layer_sum_ms) / docs,
            "plans.pipeline.jvm_gc_ms_per_doc": sum(s["jvmGcTime"] for s in stages) / docs,
            "trace.unattributed_share": 1 - layer_sum_ms / task_ms if task_ms else 0.0,
        }


class CrawlMix(_Crawl):
    """extract_pages over the archetype page mix: the flagship path."""

    name = "crawl_mix"
    ops = (("extract_pages", "_extract_batches"),)
    COLUMNS = (
        "url", "title", "description", "keywords", "main_text", "spans",
        "keyword_list", "threshold", "status",
    )

    @staticmethod
    def _value(title, description, keywords, main_text, spans, keyword_list, threshold, status):
        def span(s):
            if isinstance(s, tuple):
                return [int(x) for x in s]
            return [int(s[k]) for k in ("start_line", "end_line", "char_start", "char_end")]

        return [
            title, description, keywords, main_text,
            [span(s) for s in (spans if spans is not None else [])],
            keyword_list, int(threshold), status,
        ]

    def _collect(self, pages) -> pd.DataFrame:
        return (
            _pipeline().extract_pages(pages, num_buckets=BUCKETS)
            .select(*self.COLUMNS).toPandas()
        )

    def _rows(self, out: pd.DataFrame, path: str, seed: int) -> tuple[list[bool], list]:
        """Per page in input order: (row is right, its canonical value)."""
        from contentextractor_spark.extractor import extract_document

        pages = pd.read_parquet(path, columns=["url", "html"])
        rows: dict[str, list] = {}
        for rec in out.itertuples(index=False):
            rows.setdefault(rec.url, []).append(self._value(*rec[1:]))
        ok = [len(rows.get(u, ())) == 1 for u in pages["url"]]
        values = [rows[u][0] if good else None for u, good in zip(pages["url"], ok)]
        for i in checks.sample_indices(len(pages), seed):
            ref = extract_document(bytes(pages["html"][i]))
            want = self._value(
                ref.title, ref.description, ref.keywords, ref.main_text, ref.spans,
                ref.keyword_list, ref.threshold, ref.status,
            )
            ok[i] = ok[i] and values[i] == want
        return ok, values


class CrawlWalkers(_Crawl):
    """extract_links then extract_headings: decode + parse + walk, with no
    tag filtering, density or keyword fold."""

    name = "crawl_walkers"
    ops = (
        ("extract_links", "_extract_link_batches"),
        ("extract_headings", "_extract_heading_batches"),
    )

    def _collect(self, pages) -> tuple[pd.DataFrame, pd.DataFrame]:
        pipe = _pipeline()
        links = (
            pipe.extract_links(pages, num_buckets=BUCKETS)
            .select("url", "link_idx", "href", "anchor").toPandas()
        )
        heads = (
            pipe.extract_headings(pages, num_buckets=BUCKETS)
            .select("url", "h_idx", "level", "sec", "text").toPandas()
        )
        return links, heads

    def _rows(self, out, path: str, seed: int) -> tuple[list[bool], list]:
        """Per page in input order: (rows are right, their canonical value)."""
        links, heads = out
        pages = pd.read_parquet(path, columns=["url", "html"])

        def ordered(df, idx_col, cols):
            # url -> rows in index order, or None if the indices are not
            # exactly 0..k-1 (a lost or duplicated row)
            got: dict[str, list] = {}
            for rec in df.sort_values(["url", idx_col]).itertuples(index=False):
                got.setdefault(rec.url, []).append(rec)
            out = {}
            for url, recs in got.items():
                if [getattr(r, idx_col) for r in recs] != list(range(len(recs))):
                    out[url] = None
                else:
                    out[url] = [[_plain(getattr(r, c)) for c in cols] for r in recs]
            return out

        by_link = ordered(links, "link_idx", ("href", "anchor"))
        by_head = ordered(heads, "h_idx", ("level", "sec", "text"))
        values, ok = [], []
        for u in pages["url"]:
            lk, hd = by_link.get(u, []), by_head.get(u, [])
            ok.append(lk is not None and hd is not None)
            values.append([lk, hd])
        for i in checks.sample_indices(len(pages), seed):
            ok[i] = ok[i] and values[i] == list(checks.reference_walk(bytes(pages["html"][i])))
        return ok, values


class NeardupDedup:
    """dedup_components_simhash over a seeded token corpus with planted
    near-duplicates: SimHash bands, banded pairs with an exact rescore,
    large-star/small-star components."""

    name = "neardup_dedup"
    # pass size: a pass has ~1.5 s of fixed job and driver latency, so a
    # small pass times that latency; on 4 cores a warm pass took 2.6-3.6 s
    # at 12000 docs, 3.6-4.2 at 24000 and 6.1 at 48000
    n = 48000
    idle_layers = PAGE_LAYERS
    # JIT and codegen warm-up: after the collected pass and two warm
    # passes of this size the pass time has stopped falling
    warm_passes = 2

    def __init__(self, seed: int, nproc: int) -> None:
        self.seed, self.nproc = seed, nproc

    def make_inputs(self) -> None:
        self.path = inputs.corpus_path(self.n, self.seed)

    def load(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.path).select("doc_id", "text")

    def warm_workers(self) -> None:
        """No Python UDF runs in this workload."""

    def _dedup(self):
        from contentextractor_spark.functions import analysis

        return analysis.dedup_components_simhash(self.docs, **SIMHASH_ARGS)

    def run_pass(self) -> None:
        force(self._dedup())

    def trace_pass(self, group: str) -> dict:
        from contentextractor_spark.functions import analysis

        sc = self.spark.sparkContext
        spans = tracer.Tracer()
        parts = (
            ("functions.analysis.simhash",
             functools.partial(analysis.simhash, self.docs, bits=SIMHASH_ARGS["bits"])),
            ("functions.analysis.simhash_neardup_pairs",
             functools.partial(analysis.simhash_neardup_pairs, self.docs, **SIMHASH_ARGS)),
            ("functions.analysis.dedup_components_simhash", self._dedup),
        )
        stages = {}
        try:
            for name, build in parts:
                sc.setJobGroup(f"{group}:{name}", name)
                spans.span(name, lambda b=build: force(b()))
                stages[name] = sparkstats.group_stages(sc, f"{group}:{name}")
            held = sparkstats.held_storage_mb(sc)
        finally:
            sc.setJobGroup("", "")
        dedup = "functions.analysis.dedup_components_simhash"
        return {
            "spans": spans.stats,
            "stages": stages,
            "held_mb": held,
            "jobs": sparkstats.job_count(sc, f"{group}:{dedup}"),
            "pass_s": spans.stats[(dedup, "")][1] / 1e9,
        }

    def _pairs(self) -> int:
        from contentextractor_spark.functions import analysis

        return analysis.simhash_neardup_pairs(self.docs, **SIMHASH_ARGS).count()

    def layer_metrics(self, traces: list[dict], docs: int) -> dict[str, float]:
        def ms(name):
            return sum(t["spans"][(name, "")][1] for t in traces) / 1e6

        def task_ms(name):
            return sum(
                s["executorRunTime"] for t in traces for s in t["stages"][name].values()
            )

        dedup = "functions.analysis.dedup_components_simhash"
        pairs = "functions.analysis.simhash_neardup_pairs"
        stages = [s for t in traces for s in t["stages"][dedup].values()]
        dedup_task = task_ms(dedup)
        return {
            "functions.analysis.simhash.ms_per_doc": ms("functions.analysis.simhash") / docs,
            "functions.analysis.simhash_neardup_pairs.ms_per_doc": ms(pairs) / docs,
            "functions.analysis.components.ms_per_doc": (ms(dedup) - ms(pairs)) / docs,
            "functions.analysis.pairs_per_doc": self._pairs() / self.n,
            "functions.analysis.jobs": sum(t["jobs"] for t in traces) / len(traces),
            "functions.analysis.stages": sum(
                1 for s in stages if s["numTasks"] and s["status"] == "COMPLETE"
            ) / len(traces),
            "functions.analysis.shuffle_bytes_per_doc": (
                sum(s["shuffleWriteBytes"] for s in stages) / docs
            ),
            "functions.analysis.held_storage_mb": max(t["held_mb"] for t in traces),
            "trace.unattributed_share": (
                1 - task_ms(pairs) / dedup_task if dedup_task else 0.0
            ),
        }

    def collect(self) -> pd.DataFrame:
        return self._dedup().toPandas()

    def check(self, out: pd.DataFrame) -> tuple[int, int, list[bytes]]:
        corpus = pd.read_parquet(self.path, columns=["doc_id", "original"])
        comps: dict[int, list[int]] = {}
        for d, c in zip(out["doc_id"].tolist(), out["component"].tolist()):
            comps.setdefault(int(d), []).append(int(c))
        ids = corpus["doc_id"].tolist()
        ok = [len(comps.get(d, ())) == 1 and comps[d][0] <= d for d in ids]
        # planted near-duplicates must share one component
        shared: dict[int, set] = {}
        for d, o, good in zip(ids, corpus["original"].tolist(), ok):
            if o >= 0:
                shared.setdefault(o, set()).add(comps[d][0] if good else None)
        for i, o in enumerate(corpus["original"].tolist()):
            if o >= 0 and len(shared[o]) != 1:
                ok[i] = False
        values = [comps[d][0] if good else None for d, good in zip(ids, ok)]
        return _finish(self.name, self.n, self.seed, ok, values)


def _plain(x):
    """numpy scalar -> Python scalar, so fingerprints match the reference."""
    return x.item() if hasattr(x, "item") else x


def _finish(name, n, seed, ok, values):
    prints = [checks.fingerprint(v) for v in values]
    pinned = checks.load_pinned(name, n, seed)
    if pinned is not None:
        ok = [good and p == q for good, p, q in zip(ok, prints, pinned)]
    return len(ok), ok.count(False), prints


WORKLOADS = {w.name: w for w in (CrawlMix, CrawlWalkers, NeardupDedup)}
