"""Per-document extraction pipeline — the fused E1/E3 lifecycle
(SURVEY.md §3): decode → DOM parse → meta-charset recheck → title/meta →
tagFiltering → TextExtract → keyword fold.

This is the single "scalar UDF" the whole reference program collapses into
(SURVEY.md §2.7).  ``extract_document`` is pure per-document Python; the
Spark stage wraps it in ``mapInPandas`` over Arrow batches
(contentextractor_spark.plans.pipeline).

Error isolation mirrors the reference's per-URL try/catch
(ContentExtractor.java:200-207): any exception yields an empty row with a
status describing the error class; the job never dies on a malformed page.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .functions.fused import fused_parse
from .functions.javacompat import (
    JAVA_TRIM_CHARS,
    java_equals_ignore_case,
    java_trim,
)
from .functions.textextract import parse as textextract_parse
from .functions.tokenize import keyword_list as keyword_fold
from .operators.charset import (
    change_charset,
    detect_charset,
    java_decode,
    meta_declared_charset,
)
from .operators.dom import elements_attr, parse_xml
from .operators.tagfilter import tag_filtering_dom

EXTRACTOR_VERSION = "cx-spark-0.1.0"


@dataclass
class DocumentExtract:
    title: str = ""
    description: str = ""
    keywords: str = ""
    main_text: str = ""
    # per selected block: (start_line, end_line, char_start, char_end);
    # char offsets refer to the UNTRIMMED emitted text (T15 trims the ends
    # of main_text only)
    spans: list[tuple[int, int, int, int]] = field(default_factory=list)
    keyword_list: str = ""
    threshold: int = -1
    status: str = "ok"


def decode_html(data: bytes) -> str:
    """readURL's decode stage (ContentExtractor.java:376-391): detector
    verdict or UTF-8 fallback; changeCharset round-trip is an identity."""
    encoding = detect_charset(data)
    if encoding is not None:
        html = java_decode(data, encoding)
        html = change_charset(html, "UTF-8")
    else:
        html = data.decode("utf-8", errors="replace")
    return html


def extract_from_html(html: str, raw: bytes | None = None) -> DocumentExtract:
    """getHTML minus HTTP (ContentExtractor.java:214-265) + TextExtract +
    keyword fold.  ``raw`` enables the D2 meta-charset re-decode."""
    doc = parse_xml(html)

    # D2: meta-declared charset recheck (ContentExtractor.java:227-249).
    # doc.charset().name() is the constant output charset "UTF-8", so any
    # declared value != "UTF-8" (exact string compare) re-decodes raw bytes.
    metas = doc.select("meta")
    detected_cs = meta_declared_charset(doc, metas)
    if detected_cs != "UTF-8" and raw is not None:
        html = java_decode(raw, detected_cs)  # raises on unknown charset
        html = change_charset(html, "UTF-8")
        doc = parse_xml(html)
        metas = doc.select("meta")

    # P1-P3 (ContentExtractor.java:253-255); one meta pass for both lookups
    # (jsoup [name="x"]: Java-trimmed, case-insensitive value compare)
    title = doc.title()

    def _named(value: str) -> list:
        # jsoup AttributeWithValue: Java-trim + equalsIgnoreCase (r3
        # review: .lower() misses one-to-many mappings like Turkish İ)
        return [
            m
            for m in metas
            if java_equals_ignore_case(
                m.attrs.get("name", "").strip(JAVA_TRIM_CHARS), value
            )
        ]

    description = elements_attr(_named("description"), "content")
    keywords = elements_attr(_named("keywords"), "content")

    # body → tagFiltering (F1-F8)
    body = doc.select_first("body")
    filtered = tag_filtering_dom(body)

    if filtered is None:
        # forTest: result[3]==null → main_text stays "" (:186-188)
        return DocumentExtract(title=title, description=description, keywords=keywords)

    # Fast path: DOM→lines fusion (functions/fused.py) — byte-identical to
    # F9 serialize + T1-T8 re-lex by construction + differential tests; the
    # fused walk bails (None) on documents whose attr values contain < or >
    # where the reference regexes have match-leak behavior, and only those
    # take the serializer fallback.
    res = fused_parse(filtered)
    if res is None:
        res = textextract_parse(filtered.outer_html())
    main_text = java_trim(res.text)  # T15, forTest path (:188)
    return DocumentExtract(
        title=title,
        description=description,
        keywords=keywords,
        main_text=main_text,
        spans=res.spans,
        keyword_list=keyword_fold(main_text),
        threshold=res.threshold,
    )


def extract_document(data: bytes) -> DocumentExtract:
    """Full per-document pipeline from raw page bytes, error-isolated."""
    try:
        html = decode_html(data)
        return extract_from_html(html, raw=data)
    except Exception as e:  # noqa: BLE001 — mirror per-URL catch-all
        return DocumentExtract(status=f"error:{type(e).__name__}")
