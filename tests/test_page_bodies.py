"""The contract every mapInPandas page body in plans/pipeline.py keeps
(pure body calls, no Spark): a NULL url stays NULL — never the string
'None' — a NULL payload reads as an empty page, an empty batch yields
nothing, and the layer functions are read through their modules per
call."""

import pandas as pd
import pytest

from contentextractor_spark.plans import pipeline as P

PAGE = (
    b'<html><head><title>t</title><meta name="robots" content="noindex"/>'
    b"</head><body><h1>Head</h1><p>Some text for the density pass.</p>"
    b'<a href="/x">link</a><table><tr><td>cell</td></tr></table>'
    b"<ul><li>item</li></ul></body></html>"
)

# (body, payload column, emits one row per page whatever the page holds)
BODIES = [
    ("_extract_batches", "html", True),
    ("_extract_pdf_batches", "pdf", True),
    ("_extract_link_batches", "html", False),
    ("_extract_table_batches", "html", False),
    ("_extract_list_batches", "html", False),
    ("_extract_meta_robots_batches", "html", True),
    ("_extract_heading_batches", "html", False),
    ("_debug_batches", "html", True),
]


@pytest.mark.parametrize("name,payload,one_row", BODIES, ids=[b[0] for b in BODIES])
def test_page_body_null_url_null_payload_empty_batch(name, payload, one_row):
    body = getattr(P, name)
    batch = pd.DataFrame(
        {"url": [None, "u2"], payload: [PAGE, None], "bucket_id": [3, 5]}
    )
    out = pd.concat(list(body(iter([batch]))), ignore_index=True)
    urls = list(out["url"])
    # the NULL-url page has rows, all keyed by NULL
    assert None in urls
    assert all(u is None for u in urls if u != "u2")
    # the NULL-payload page is an empty page: one row, or no rows
    assert urls.count("u2") == (1 if one_row else 0)

    empty = pd.DataFrame({"url": [], payload: [], "bucket_id": []})
    assert list(body(iter([empty]))) == []


def test_bodies_read_layer_functions_per_call(monkeypatch):
    # a body that bound extract_document, decode_html or parse_xml at
    # import would not see a swap of the module global (the per-layer
    # tracer swaps exactly these)
    from contentextractor_spark import extractor
    from contentextractor_spark.operators import dom

    calls = []

    def spy(mod, attr):
        real = getattr(mod, attr)
        monkeypatch.setattr(mod, attr, lambda x: calls.append(attr) or real(x))

    spy(P, "extract_document")
    spy(extractor, "decode_html")
    spy(dom, "parse_xml")
    batch = pd.DataFrame({"url": ["u"], "html": [PAGE], "bucket_id": [0]})
    list(P._extract_batches(iter([batch])))
    assert calls.count("extract_document") == 1
    calls.clear()
    list(P._extract_link_batches(iter([batch])))
    assert calls == ["decode_html", "parse_xml"]
