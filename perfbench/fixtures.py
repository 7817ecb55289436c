"""Seeded input tables, cached inside the checkout.

Every input comes from `generator.gen_pages` (Zipf hosts). A fixture is
keyed by (table, seed, rows, digest of the generator source), so a
generator change can never be served a stale cache entry. Rows whose
url occurs more than once are dropped — deterministically, all copies —
so `url` is a key and the round-trip join of `engine.verify_roundtrip`
matches each row with itself.

A fixture directory holds the parquet files (uncompressed) and
`meta.json`: row count, input user bytes and a content digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

# table → (rows generated before the duplicate-url drop, projected columns)
TABLES = {
    "pages": (10_000, None),
    "index": (60_000, ["url", "warc_ts", "lang"]),
}
KEEP = 24  # cached fixtures kept (two workloads × ten seeds fit); older ones are deleted


def generator_digest(root: str) -> str:
    with open(os.path.join(root, "parquetry_spark", "generator.py"), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def read_table(path: str) -> pa.Table:
    """The fixture's rows, sorted by url (a key), one chunk per column."""
    tbl = ds.dataset(os.path.join(path, "data"), format="parquet").to_table()
    return tbl.sort_by("url").combine_chunks()


def user_bytes(tbl: pa.Table) -> int:
    """Bytes of user data: value bytes of string/binary columns, the
    fixed width of every other non-null value."""
    total = 0
    for col in tbl.columns:
        t = col.type
        if pa.types.is_string(t) or pa.types.is_binary(t):
            total += int(pc.sum(pc.binary_length(col)).as_py() or 0)
        else:
            total += (len(col) - col.null_count) * (t.bit_width // 8)
    return total


def content_digest(tbl: pa.Table) -> str:
    h = hashlib.sha256()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    h.update(sink.getvalue())
    return h.hexdigest()


def build(spark, table: str, seed: int, rows: int, dest: str) -> dict:
    """Generate one fixture into `dest` (replaced) and return its meta."""
    from pyspark.sql import functions as F

    from parquetry_spark.generator import gen_pages

    _, cols = TABLES[table]
    # a fixed partition count: gen_pages seeds each partition's rng from
    # (seed, partition), so the rows depend on it, never on the cores
    df = gen_pages(spark, rows, seed=seed, n_partitions=4)
    if cols:
        df = df.select(*cols)
    dupes = df.groupBy("url").count().filter(F.col("count") > 1).select("url")
    df = df.join(dupes, "url", "left_anti")
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.option("compression", "none").parquet(os.path.join(tmp, "data"))
    tbl = read_table(tmp)
    meta = {
        "table": table,
        "seed": seed,
        "rows": tbl.num_rows,
        "user_bytes": user_bytes(tbl),
        "digest": content_digest(tbl),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return meta


def ensure(spark, root: str, cache_dir: str, table: str, seed: int) -> tuple[str, dict]:
    """Path and meta of the cached fixture, generating it on a miss."""
    rows, _ = TABLES[table]
    key = f"{table}-s{seed}-r{rows}-g{generator_digest(root)}"
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        os.utime(path)  # most recently used
        with open(meta_path) as fh:
            return path, json.load(fh)
    os.makedirs(cache_dir, exist_ok=True)
    meta = build(spark, table, seed, rows, path)
    _evict(cache_dir)
    return path, meta


def _evict(cache_dir: str) -> None:
    entries = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if os.path.exists(os.path.join(cache_dir, d, "meta.json"))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
