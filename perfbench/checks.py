"""Output checks, computed apart from the program under test.

Everything here reads the written parquet with ``pyarrow`` (never through
Spark) and recomputes what it checks in plain Python: chunk ids, the
resume key ``pmod(xxhash64(url), P)``, per-url digests, scanned-PDF text.
"""

from __future__ import annotations

import hashlib
import os
import struct

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
SPARK_HASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxhash64(data: bytes, seed: int = SPARK_HASH_SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit int — Spark's ``xxhash64`` of
    a string column (seed 42 over the UTF-8 bytes)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = _merge(h, lane)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def partition_of(url: str, num_partitions: int) -> int:
    return xxhash64(url.encode("utf-8")) % num_partitions


def chunk_hash(text: str, url: str) -> str:
    return hashlib.md5((text + url).encode("utf-8", "ignore")).hexdigest()


def read_table(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def tree_listing(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def chunk_digest(chunks_path: str) -> tuple[int, str]:
    """Row count and an order-independent digest over
    (url, chunk_idx, content_hash) of a chunk table."""
    t = read_table(chunks_path, ["url", "chunk_idx", "content_hash"])
    rows = sorted(zip(t.column("url").to_pylist(),
                      t.column("chunk_idx").to_pylist(),
                      t.column("content_hash").to_pylist()))
    h = hashlib.sha256()
    for url, idx, ch in rows:
        h.update(f"{url}|{idx}|{ch}\n".encode())
    return len(rows), h.hexdigest()


def error_rows(chunks_path: str) -> int:
    t = read_table(chunks_path, ["error"])
    return t.num_rows - t.column("error").null_count


def check_extract_output(chunks_path: str, manifest_path: str,
                         pages: list[dict], num_partitions: int,
                         sample_every: int, template_cfg: dict) -> list[str]:
    """Every property ``extract_job`` promises, checked on one pass's
    output. Returns a list of problems (empty when correct)."""
    from ragflow_spark.core.templates import run_template
    from ragflow_spark.sources.pages import scanned_truths

    problems: list[str] = []
    t = read_table(chunks_path, ["url", "chunk_idx", "chunk_text", "tag_text",
                                 "content_hash", "error", "partition_id"])
    cols = {c: t.column(c).to_pylist() for c in t.column_names}
    by_url: dict[str, list] = {}
    for i, url in enumerate(cols["url"]):
        by_url.setdefault(url, []).append(i)

    urls = [p["url"] for p in pages]
    missing = set(urls) - set(by_url)
    if missing:
        problems.append(f"{len(missing)} input docs missing from output")
    n_err = sum(e is not None for e in cols["error"])
    if n_err:
        problems.append(f"{n_err} output rows have error set")
    bad_hash = sum(
        1 for i in range(t.num_rows) if cols["error"][i] is None
        and cols["content_hash"][i] != chunk_hash(cols["chunk_text"][i],
                                                  cols["url"][i]))
    if bad_hash:
        problems.append(f"{bad_hash} rows with content_hash != md5(text||url)")

    pid_of = {u: partition_of(u, num_partitions) for u in urls}
    bad_pid = sum(1 for i in range(t.num_rows)
                  if cols["partition_id"][i] != pid_of.get(cols["url"][i]))
    if bad_pid:
        problems.append(f"{bad_pid} rows in the wrong partition_id")

    for p in pages:
        if p.get("doc_id") is None or not p["scanned"]:
            continue
        text = "".join(cols["chunk_text"][i] for i in by_url.get(p["url"], []))
        lines = [ln for page in scanned_truths(p["doc_id"]) for ln in page]
        compact = "".join(text.split())
        if (any(ln not in text for ln in lines)
                or len(compact) != sum(len("".join(ln.split()))
                                       for ln in lines)):
            problems.append(f"scanned pdf {p['url']}: text != OCR truth lines")

    for p in pages[::sample_every]:
        want = [
            (ck.chunk_idx, ck.chunk_text, ck.tag_text,
             chunk_hash(ck.chunk_text, p["url"]))
            for ck in run_template(p["parser"], p["html"], p["fmt"],
                                   p["lang"], cfg=dict(template_cfg))
        ]
        got = sorted(
            (cols["chunk_idx"][i], cols["chunk_text"][i],
             cols["tag_text"][i] if cols["tag_text"][i] is not None
             else cols["chunk_text"][i], cols["content_hash"][i])
            for i in by_url.get(p["url"], []))
        if sorted(want) != got:
            problems.append(f"{p['url']}: chunks differ from run_template")

    m = read_table(manifest_path, ["partition_id", "doc_count"])
    expect: dict[int, int] = {}
    for u in set(urls):
        expect[pid_of[u]] = expect.get(pid_of[u], 0) + 1
    got_m = dict(zip(m.column("partition_id").to_pylist(),
                     m.column("doc_count").to_pylist()))
    if got_m != expect:
        problems.append(f"manifest doc_count {got_m} != own count {expect}")
    return problems


def _oracle(con, sql: str, tables_digest: str, cache: str):
    """``sql``'s DuckDB result. The tables are fixed, so the result is
    kept in ``cache`` under a digest of the SQL and the table files."""
    import pickle

    key = hashlib.sha256(f"{tables_digest}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache, f"oracle_{key[:32]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    ddf = con.execute(sql).df()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(ddf, f)
    os.replace(tmp, path)
    return ddf


def oracle_mismatches(results: dict, oracle_sql: dict, sf_dir: str,
                      cache: str) -> dict:
    """Leaf name -> list of issues, comparing each leaf's pandas output
    with its DuckDB oracle the way ``tools/check_oracles.py`` does."""
    import duckdb

    from tools.check_oracles import compare

    con = duckdb.connect()
    h = hashlib.sha256()
    for name in ("documents", "embeddings"):
        path = os.path.join(sf_dir, name + ".parquet")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
        con.execute(f"create view {name} as select * from '{path}'")
    out = {}
    for name, sdf in results.items():
        ddf = _oracle(con, oracle_sql[name], h.hexdigest(), cache)
        issues = compare(name, sdf, ddf)
        if issues:
            out[name] = issues
    con.close()
    return out
