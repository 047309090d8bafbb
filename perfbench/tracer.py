"""Per-layer spans recorded from outside the program.

``installed()`` replaces the module globals through which the extraction
code calls each layer (``decode_html``, ``parse_xml``, the meta charset
recheck, ``tag_filtering_dom``, ``fused_parse``, the serializer fallback
``textextract.parse`` and the keyword fold) with wrappers that time each
call and remember which wrapped call was running when it was made, and
puts the originals back afterwards.  The program itself is not edited:
the wrappers live in one worker process for one traced task.

Spans are aggregated in memory per (name, parent): calls, total and child
nanoseconds, so self time = total - child.  A traced Spark task sends its
aggregate home through an accumulator when its batches are exhausted.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

from pyspark.accumulators import AccumulatorParam

# (module, global name) -> span name; a span name is the public function
# that the global points at
PATCHES = (
    ("contentextractor_spark.plans.pipeline", "extract_document", "extractor.extract_document"),
    ("contentextractor_spark.extractor", "decode_html", "extractor.decode_html"),
    ("contentextractor_spark.extractor", "parse_xml", "operators.dom.parse_xml"),
    ("contentextractor_spark.operators.dom", "parse_xml", "operators.dom.parse_xml"),
    ("contentextractor_spark.extractor", "java_decode", "operators.charset.java_decode"),
    ("contentextractor_spark.extractor", "change_charset", "operators.charset.change_charset"),
    ("contentextractor_spark.extractor", "meta_declared_charset", "operators.charset.meta_declared_charset"),
    ("contentextractor_spark.extractor", "tag_filtering_dom", "operators.tagfilter.tag_filtering_dom"),
    ("contentextractor_spark.extractor", "fused_parse", "functions.fused.fused_parse"),
    ("contentextractor_spark.extractor", "textextract_parse", "functions.textextract.parse"),
    ("contentextractor_spark.extractor", "keyword_fold", "functions.tokenize.keyword_list"),
)


class Tracer:
    """Span aggregate of one process: {(name, parent): [calls, ns, child_ns]}."""

    def __init__(self) -> None:
        self.stack: list[list] = []
        self.stats: dict[tuple[str, str], list[int]] = {}

    def wrap(self, name: str, fn):
        stack, stats, clock = self.stack, self.stats, time.perf_counter_ns

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = stack[-1][0] if stack else ""
            frame = [name, 0]
            stack.append(frame)
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = clock() - t0
                stack.pop()
                if stack:
                    stack[-1][1] += dt
                s = stats.get((name, parent))
                if s is None:
                    s = stats[(name, parent)] = [0, 0, 0]
                s[0] += 1
                s[1] += dt
                s[2] += frame[1]

        return traced

    def span(self, name: str, fn, *args, **kwargs):
        """Call fn(*args, **kwargs) as span ``name``."""
        return self.wrap(name, fn)(*args, **kwargs)


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Patch the layer globals of this process with ``tracer``'s wrappers
    for the duration of the block, then restore the originals."""
    saved = []
    try:
        for mod_name, attr, span in PATCHES:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, tracer.wrap(span, saved[-1][2]))
        yield tracer
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def merge(into: dict, other: dict) -> dict:
    for key, (calls, ns, child) in other.items():
        s = into.setdefault(key, [0, 0, 0])
        s[0] += calls
        s[1] += ns
        s[2] += child
    return into


class SpanAccumulator(AccumulatorParam):
    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        return merge(value1, value2)


def traced_body(body_name: str, acc, batches):
    """mapInPandas body: run ``plans.pipeline.<body_name>`` with the layer
    globals patched for this task only, then ship its span aggregate."""
    pipeline = importlib.import_module("contentextractor_spark.plans.pipeline")
    body = getattr(pipeline, body_name)
    tracer = Tracer()
    try:
        with installed(tracer):
            yield from body(batches)
    finally:
        acc.add(tracer.stats)


def traced_batches(body_name: str, acc):
    """The callable handed to mapInPandas in place of a pipeline body."""
    return functools.partial(traced_body, body_name, acc)
