"""Single-process replay of the encode kernel's layers, without Spark.

The fixture's rows are sorted by (url, warc_ts), as the encode kernel
sorts each part, and cut into N_PARTS contiguous parts; a seeded choice
of REPLAY_PARTS of them is replayed. For every column chunk the replay
calls only public functions: `stats.partition_stats`,
`selector.select_codec` and `codecs.get_codec(name).encode/decode`.
It reports per-codec speed and size, the speed of the stats pass, and
how well the selector's ranking did against every codec that accepts
the chunk.
"""

from __future__ import annotations

import random
import time

import numpy as np
import pyarrow as pa

N_PARTS = 32  # run_encode's default part count
REPLAY_PARTS = 4
CODECS = ["fsst", "prefix", "dict", "delta_for", "rle", "bitpack"]
# codecs that can take a chunk of each value kind (strings and binaries
# arrive as Arrow arrays, which the numeric codecs do not read)
BY_KIND = {
    "O": ["plain", "dict", "rle", "prefix", "fsst"],
    "i": ["plain", "dict", "rle", "bitpack", "delta_for"],
}


def _chunk_values(arr: pa.Array):
    """Column chunk → the value container the codecs take: Arrow arrays
    for strings and binaries, numpy integers for timestamps."""
    arr = arr.drop_null()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        return arr
    if pa.types.is_timestamp(t):
        return arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
    return arr.to_numpy(zero_copy_only=False)


def _committed(cands, encoded, in_len):
    """The engine's commit rule: walk the ranked candidates, keep the
    smallest payload seen, stop at the first non-plain candidate whose
    payload beats plain's byte count."""
    best = None
    for c in cands:
        if c not in encoded:
            continue
        if best is None or len(encoded[c][0]) < len(encoded[best][0]):
            best = c
        if c != "plain" and len(encoded[best][0]) < in_len:
            break
    return best


def replay(tbl: pa.Table, seed: int) -> dict[str, float]:
    from parquetry_spark.codecs import get_codec
    from parquetry_spark.codecs.base import serialize_values
    from parquetry_spark.selector import select_codec
    from parquetry_spark.stats import partition_stats

    keys = [c for c in ("url", "warc_ts") if c in tbl.column_names]
    tbl = tbl.sort_by([(c, "ascending") for c in keys])
    bounds = np.linspace(0, tbl.num_rows, N_PARTS + 1).astype(int)
    parts = sorted(random.Random(seed).sample(range(N_PARTS), REPLAY_PARTS))

    per = {c: {"in": 0, "out": 0, "enc_s": 0.0, "dec_s": 0.0} for c in CODECS}
    stats_in, stats_s = 0, 0.0
    chunks = first_hits = 0
    committed_bytes = best_bytes = 0
    for p in parts:
        part = tbl.slice(bounds[p], bounds[p + 1] - bounds[p])
        for name in part.column_names:
            vals = _chunk_values(part.column(name).combine_chunks())
            if len(vals) == 0:
                continue
            in_len = len(serialize_values(vals)[0])
            t = time.perf_counter()
            stats = partition_stats(vals)
            stats_s += time.perf_counter() - t
            stats_in += in_len
            kind = "O" if isinstance(vals, pa.Array) else vals.dtype.kind
            cands = select_codec(stats, kind)

            encoded = {}
            for c in BY_KIND[kind]:
                t = time.perf_counter()
                try:
                    payload, params = get_codec(c).encode(vals)
                except (TypeError, ValueError):
                    continue  # the codec does not accept this chunk
                encoded[c] = (payload, params, time.perf_counter() - t)
            for c in CODECS:
                if c not in encoded:
                    continue
                payload, params, enc_s = encoded[c]
                t = time.perf_counter()
                get_codec(c).decode(payload, dict(params), len(vals))
                per[c]["dec_s"] += time.perf_counter() - t
                per[c]["enc_s"] += enc_s
                per[c]["in"] += in_len
                per[c]["out"] += len(payload)

            chosen = _committed(cands, encoded, in_len)
            chunks += 1
            first_hits += chosen == cands[0]
            committed_bytes += len(encoded[chosen][0])
            best_bytes += min(len(e[0]) for e in encoded.values())

    out = {
        "stats.partition_stats_mb_s": stats_in / 1e6 / stats_s,
        "selector.first_choice_hit": first_hits / chunks,
        "selector.regret": committed_bytes / max(best_bytes, 1),
    }
    for c, m in per.items():
        out[f"codecs.{c}.encode_mb_s"] = m["in"] / 1e6 / m["enc_s"]
        out[f"codecs.{c}.decode_mb_s"] = m["in"] / 1e6 / m["dec_s"]
        out[f"codecs.{c}.ratio"] = m["out"] / m["in"]
    return out
