"""Seeded inputs for the benchmark, generated once into a cache.

Two input families:

- the web pages corpus: a window of ``PAGES_PER_PASS`` consecutive doc ids
  of ``ragflow_spark.sources.pages.make_doc(doc_id, "web")``. ``--seed``
  picks the window. Windows start ``WINDOW_OFFSET`` past a multiple of
  ``WINDOW_PERIOD``, the common period of the generator's giant-page and
  format x parser cycles, so every seed gets the same formats, parsers,
  scanned PDFs and exactly one giant page, with different text (2 or 3 big
  pages).
- the corpus-operator tables ``documents`` and ``embeddings`` of the sf0.1
  dataset, kept byte for byte under ``perfbench/sf0.1`` (README "Inputs").

``make_doc`` lives in the package under test, so a change there would
silently change the benchmark's input. ``check_generator`` regenerates a
pinned probe set of doc ids and compares its digest with
``PINNED_PROBE_DIGEST``; a mismatch stops the run.
"""

from __future__ import annotations

import hashlib
import json
import os

# lcm of the generator's giant-page cycle (2003) and its format x parser
# cycle (10 x 8)
WINDOW_PERIOD = 2003 * 80
# warc_ts = 2024-12-18 + doc_id seconds; the extraction UDF converts it to
# pandas' nanosecond timestamps, which end in 2262 (README "Found")
WINDOW_SLOTS = 40_000
# giant pages are doc ids = 1000 (mod 2003): the window [500, 1012) holds one
WINDOW_OFFSET = 500
PAGES_PER_PASS = 512
DEFAULT_SEED = 1

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")

# digest of make_doc over PROBE_IDS; see README.md for how to recompute it
PINNED_PROBE_DIGEST = (
    "48a5db0f8d7a34358c80506286cbd721c59ee3d533295d4609cc90822fe9a1ee")


def window_start(seed: int) -> int:
    return (seed % WINDOW_SLOTS) * WINDOW_PERIOD + WINDOW_OFFSET


def doc_ids(seed: int) -> range:
    s = window_start(seed)
    return range(s, s + PAGES_PER_PASS)


def probe_ids() -> list[int]:
    """Doc ids whose rows cover every generator path: the first 160 ids of
    the default window (all format x parser pairs, scanned PDFs, Chinese
    html), its first big page and its giant page."""
    ids = doc_ids(DEFAULT_SEED)
    return (list(ids[:160]) + [next(i for i in ids if i % 211 == 13)]
            + [next(i for i in ids if i % 2003 == 1000)])


def _row_digest(h, row: dict) -> None:
    for k in ("url", "lang", "parser", "fmt"):
        h.update(row[k].encode())
        h.update(b"\0")
    h.update(row["warc_ts"].isoformat().encode())
    h.update(hashlib.sha256(row["html"]).digest())


def probe_digest() -> str:
    from ragflow_spark.sources.pages import make_doc

    h = hashlib.sha256()
    for i in probe_ids():
        _row_digest(h, make_doc(i, "web"))
    return h.hexdigest()


def check_generator() -> None:
    got = probe_digest()
    if got != PINNED_PROBE_DIGEST:
        raise SystemExit(
            "pages generator drifted: make_doc probe digest "
            f"{got} != pinned {PINNED_PROBE_DIGEST}. The benchmark's inputs "
            "would no longer match its recorded figures; see "
            "perfbench/README.md before re-pinning."
        )


def _pages_schema():
    import pyarrow as pa

    return pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ("parser", pa.string()), ("fmt", pa.string()),
    ])


def write_pages(seed: int, path: str) -> dict:
    """Write the seed's pages window as one parquet file; return its
    make-up (docs and bytes per format, scanned PDFs, giants) and digest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ragflow_spark.sources.pages import is_scanned_pdf, make_doc

    rows, h = [], hashlib.sha256()
    makeup: dict[str, dict] = {}
    for i in doc_ids(seed):
        row = make_doc(i, "web")
        _row_digest(h, row)
        kind = "pdf_scan" if is_scanned_pdf(i, "web") else row["fmt"]
        m = makeup.setdefault(kind, {"docs": 0, "bytes": 0})
        m["docs"] += 1
        m["bytes"] += len(row["html"])
        rows.append(row)
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(pa.Table.from_pylist(rows, schema=_pages_schema()), tmp)
    os.replace(tmp, path)
    return {"digest": h.hexdigest(), "makeup": makeup}


def ensure_pages(cache: str, seed: int) -> tuple[str, dict]:
    """Path of the seed's pages parquet, generated on first use."""
    path = os.path.join(cache, f"pages_s{seed % WINDOW_SLOTS}.parquet")
    meta_path = path + ".json"
    if not os.path.exists(meta_path):
        meta = write_pages(seed, path)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    with open(meta_path) as f:
        return path, json.load(f)
