"""Output checks: per-document fingerprints, the pinned fingerprints of
the default seed, and the in-process references for a fixed sample."""

from __future__ import annotations

import base64
import hashlib
import json
import os
import zlib

import numpy as np

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")
DEFAULT_SEED = 42
SAMPLE = 256


def fingerprint(value) -> bytes:
    """2-byte fingerprint of one document's canonical output."""
    blob = json.dumps(value, ensure_ascii=False, separators=(",", ":"), default=str)
    return hashlib.sha256(blob.encode("utf-8")).digest()[:2]


def digest(prints: list[bytes]) -> str:
    return hashlib.sha256(b"".join(prints)).hexdigest()[:16]


def _pack(prints: list[bytes]) -> str:
    return base64.b64encode(zlib.compress(b"".join(prints), 9)).decode("ascii")


def _unpack(blob: str) -> list[bytes]:
    raw = zlib.decompress(base64.b64decode(blob))
    return [raw[i:i + 2] for i in range(0, len(raw), 2)]


def pinned(workload: str) -> list[bytes] | None:
    """The default seed's pinned per-document fingerprints, in input order."""
    if not os.path.exists(PINNED_PATH):
        return None
    with open(PINNED_PATH) as f:
        entry = json.load(f).get(workload)
    return None if entry is None else _unpack(entry["prints"])


def load_pinned(workload: str, n: int, seed: int) -> list[bytes] | None:
    """Pinned fingerprints for a run of (n, seed), or None when that is not
    the pinned configuration."""
    prints = pinned(workload) if seed == DEFAULT_SEED else None
    return prints if prints is not None and len(prints) == n else None


def pin(workload: str, n: int, seed: int, prints: list[bytes]) -> None:
    if seed != DEFAULT_SEED:
        raise ValueError(f"only the default seed {DEFAULT_SEED} is pinned")
    entries = {}
    if os.path.exists(PINNED_PATH):
        with open(PINNED_PATH) as f:
            entries = json.load(f)
    entries[workload] = {"seed": seed, "n": n, "digest": digest(prints), "prints": _pack(prints)}
    with open(PINNED_PATH, "w") as f:
        json.dump(entries, f, indent=1, sort_keys=True)
        f.write("\n")


def sample_indices(n: int, seed: int) -> list[int]:
    rng = np.random.default_rng([seed, 7])
    return sorted(int(i) for i in rng.choice(n, size=min(SAMPLE, n), replace=False))


def reference_walk(data: bytes) -> tuple[list, list]:
    """Links and headings of one page, computed in this process with the
    same public layer calls the walkers make: (href, anchor) per <a href>
    and (level, dotted section, text) per h1-h6, in document order."""
    from contentextractor_spark.extractor import decode_html
    from contentextractor_spark.operators.dom import parse_xml

    try:
        doc = parse_xml(decode_html(data))
        links = [
            [el.attr("href"), el.text()]
            for el in doc.iter_elements()
            if el.tag == "a" and el.has_attr("href")
        ]
        heads = [
            (int(el.tag[1]), el.text())
            for el in doc.iter_elements()
            if el.tag in ("h1", "h2", "h3", "h4", "h5", "h6")
        ]
    except Exception:  # noqa: BLE001 — the walkers' per-URL contract
        return [], []
    counters = [0] * 7
    outline = []
    for level, text in heads:
        counters[level] += 1
        counters[level + 1:] = [0] * (6 - level)
        outline.append([level, ".".join(str(c) for c in counters[1:level + 1]), text])
    return links, outline
