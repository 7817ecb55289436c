"""Tests of the benchmark's parts, on a small Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from parquetry_spark.generator import gen_pages_pdf  # noqa: E402
from perfbench import fixtures  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import Session, roundtrip_ok  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench", "tests")


@pytest.fixture(scope="module")
def spark():
    shutil.rmtree(WORK, ignore_errors=True)
    session = Session(ROOT, os.path.join(WORK, "session"))
    session.start()
    yield session.spark
    session.stop()
    shutil.rmtree(WORK, ignore_errors=True)


def test_same_seed_gives_same_input_digest(spark):
    a = fixtures.build(spark, "pages", 7, 1500, os.path.join(WORK, "a"))
    b = fixtures.build(spark, "pages", 7, 1500, os.path.join(WORK, "b"))
    c = fixtures.build(spark, "pages", 8, 1500, os.path.join(WORK, "c"))
    assert a["digest"] == b["digest"]
    assert a["rows"] == b["rows"] and a["user_bytes"] == b["user_bytes"]
    assert c["digest"] != a["digest"]


def _flip_one_payload_byte(src: str, dst: str) -> None:
    """Copy a blocks directory, flipping the middle byte of the largest
    payload (the one block whose decode is sure to change). A file may
    hold no block."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs if f.endswith(".parquet")
    )
    sizes = [
        max((len(p) for p in pq.read_table(f).column("payload").to_pylist()), default=0)
        for f in files
    ]
    target = files[sizes.index(max(sizes))]
    os.makedirs(dst)
    for f in files:
        tbl = pq.read_table(f)
        if f == target:
            payloads = tbl.column("payload").to_pylist()
            i = max(range(len(payloads)), key=lambda j: len(payloads[j]))
            buf = bytearray(payloads[i])
            buf[len(buf) // 2] ^= 0x01
            payloads[i] = bytes(buf)
            idx = tbl.schema.get_field_index("payload")
            tbl = tbl.set_column(idx, "payload", pa.array(payloads, pa.binary()))
        pq.write_table(tbl, os.path.join(dst, os.path.basename(f)))


def test_flipped_payload_byte_is_a_failed_op(spark):
    from parquetry_spark.engine import run_encode

    fx = os.path.join(WORK, "flip-input")
    fixtures.build(spark, "pages", 3, 1500, fx)
    df = spark.read.parquet(os.path.join(fx, "data")).cache()
    res = run_encode(spark, df, os.path.join(WORK, "flip-out"), n_parts=4)
    assert roundtrip_ok(spark, df, spark.read.parquet(res["blocks_path"]))

    bad = os.path.join(WORK, "flip-bad")
    _flip_one_payload_byte(res["blocks_path"], bad)
    assert not roundtrip_ok(spark, df, spark.read.parquet(bad))


def test_host_range_prefixes_select_about_one_percent():
    import random

    from perfbench.workloads import HOST_RANGE_SHARE, host_prefixes

    pdf = gen_pages_pdf(20_000, seed=5)
    urls = sorted(pdf["url"])
    for p in host_prefixes(urls, random.Random(5)):
        lo, hi = f"https://www.site{p}", f"https://www.site{p + 1}"
        share = sum(lo <= u < hi for u in urls) / len(urls)
        assert share == pytest.approx(HOST_RANGE_SHARE, rel=0.35)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    self_s = tr.self_times()
    assert self_s["inner"] == pytest.approx(inner["end"] - inner["start"])
    assert self_s["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )
