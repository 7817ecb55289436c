"""The benchmark's workloads: set-up, timed closed loop, correctness gate.

One driver process runs Spark at local[K] (K = min(4, cores)). A single
client issues one operation at a time — a closed loop — after untimed
warm-up, for at least the requested number of seconds of operation
time. Every figure is taken from outside the engine: wall time around
its public calls, the `enc_us`/`rows` columns of the manifest it writes,
Spark's status store and `/proc`.
"""

from __future__ import annotations

import bisect
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

from perfbench import counters, fixtures
from perfbench.tracing import Tracer

K = min(4, len(os.sched_getaffinity(0)))
SETUP_REPS = 3  # input read/cache repetitions; setup_s takes their median
# A fresh JVM keeps compiling for several operations: the first encode
# runs about twice as long as the third, and queries still speed up
# through their second round.
WARMUP_ENCODES = 2
WARMUP_ROUNDS = 2
WARM_MB_PER_WORKER = 64


@dataclass(frozen=True)
class Workload:
    table: str  # fixtures.TABLES key
    mode: str  # "encode" or "scan"
    layout: str
    bloom_cols: tuple[str, ...] | None = None


WORKLOADS = {
    "encode-pages": Workload("pages", "encode", "hash"),
    "encode-index": Workload("index", "encode", "range"),
    "scan-pages": Workload("pages", "scan", "range", ("url",)),
}

# columns each query kind returns, per input table
QUERY_COLS = {
    "pages": {
        "full_scan": ["url", "text"],
        "lang_eq": ["url", "warc_ts", "lang"],
        "host_range": ["url", "text"],
        "url_point": ["url", "html"],
    },
    "index": {
        "full_scan": ["url", "warc_ts", "lang"],
        "lang_eq": ["url", "warc_ts"],
        "host_range": ["url", "lang"],
        "url_point": ["url", "warc_ts", "lang"],
    },
}
KINDS = list(QUERY_COLS["pages"])
LANGS = ["en", "de", "fr", "es", "zh", "ru", "pt"]


@dataclass(frozen=True)
class Query:
    kind: str
    cols: tuple[str, ...]
    # None, ("eq", col, value) or ("range", col, lo, hi)
    ref: tuple | None

    @property
    def where(self) -> str | None:
        """The predicate in the engine's filter DSL (as `cli decode --where`)."""
        if self.ref is None:
            return None
        if self.ref[0] == "eq":
            return f'{self.ref[1]} == "{self.ref[2]}"'
        _, col, lo, hi = self.ref
        return f'{col} >= "{lo}" && {col} < "{hi}"'

    def pred(self):
        """The same predicate as a plain Spark Column, for the reference."""
        from pyspark.sql import functions as F

        if self.ref is None:
            return None
        if self.ref[0] == "eq":
            return F.col(self.ref[1]) == self.ref[2]
        _, col, lo, hi = self.ref
        return (F.col(col) >= lo) & (F.col(col) < hi)


HOST_RANGE_SHARE = 0.01  # rows a host_range query selects, roughly


def host_prefixes(urls: list[str], rng: random.Random) -> list[int]:
    """Three two-digit host prefixes NN whose url range selects close to
    HOST_RANGE_SHARE of the rows. Under the Zipf host skew, a prefix drawn
    at random would select anywhere from 0.3% to 2.5% of them."""
    def share(p: int) -> float:
        lo = bisect.bisect_left(urls, f"https://www.site{p}")
        return (bisect.bisect_left(urls, f"https://www.site{p + 1}") - lo) / len(urls)

    near = sorted(range(10, 99), key=lambda p: abs(share(p) - HOST_RANGE_SHARE))
    return rng.sample(near[:6], 3)


def build_queries(table: str, seed: int, urls: list[str]) -> dict[str, list[Query]]:
    """Seeded query variants per kind; `urls` sorted."""
    rng = random.Random(seed)
    cols = {k: tuple(v) for k, v in QUERY_COLS[table].items()}
    prefixes = host_prefixes(urls, rng)
    return {
        "full_scan": [Query("full_scan", cols["full_scan"], None)],
        "lang_eq": [Query("lang_eq", cols["lang_eq"], ("eq", "lang", x)) for x in rng.sample(LANGS, 3)],
        "host_range": [
            Query("host_range", cols["host_range"],
                  ("range", "url", f"https://www.site{p}", f"https://www.site{p + 1}"))
            for p in prefixes
        ],
        "url_point": [Query("url_point", cols["url_point"], ("eq", "url", u)) for u in rng.sample(urls, 3)],
    }


def answer_exprs(schema, cols, pred=None) -> list:
    """(row count, Σ octet_length, Σ xxhash64) per returned column —
    aggregating every value forces the answer to materialize."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def on(e):
        return e if pred is None else F.when(pred, e)

    exprs = [F.count(on(F.lit(1)))]
    for c in cols:
        v = F.col(c)
        if not isinstance(schema[c].dataType, (T.StringType, T.BinaryType)):
            v = v.cast("string")
        exprs.append(F.sum(on(F.octet_length(v))))
        exprs.append(F.sum(on(F.xxhash64(F.col(c)).cast("decimal(38,0)"))))
    return exprs


def _ints(row) -> tuple[int, ...]:
    return tuple(int(x or 0) for x in row)


def answer_bytes(ans: tuple[int, ...]) -> int:
    return sum(ans[1::2])  # (count, len_1, hash_1, len_2, hash_2, …)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def roundtrip_ok(spark, df, blocks) -> bool:
    """`engine.verify_roundtrip` finds no mismatch on any column. A decode
    that raises is a failure too."""
    from parquetry_spark.engine import verify_roundtrip

    try:
        bad = verify_roundtrip(spark, df, blocks)
    except Exception:
        traceback.print_exc()
        return False
    return not any(bad.values())


@dataclass
class Op:
    """One timed operation and what was read around it."""

    wall_s: float
    ok: bool = True
    stored_ratio: float | None = None
    answer_bytes: int = 0
    kind: str | None = None
    manifest: list | None = None  # (part_id, rows or 0 past the first column, enc_us) per block
    stages: dict | None = None
    pyworker_cpu_s: float | None = None
    result: dict | None = None
    peak_pss: int = 0  # bytes, summed over the JVM and its descendants


class Session:
    """A Spark driver at local[K] whose files all live under `work`."""

    def __init__(self, root: str, work: str):
        self.root, self.work = root, work
        self.spark = None
        self.proc = None

    def start(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ[counters.OWNER_ENV] = str(os.getpid())
        # Python workers import the engine from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        tempfile.tempdir = tmp
        from parquetry_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            cores=K,
            extra={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        # run_encode probes for an earlier manifest; a fresh out_dir logs
        # the FileNotFoundException at WARN
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = self.spark.sparkContext._gateway.proc

    @property
    def jvm_pid(self) -> int:
        return self.proc.pid

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it forked."""
        if self.spark is None:
            return
        tree = [self.proc.pid] + counters.descendants(self.proc.pid)
        try:
            self.spark.stop()
        finally:
            from pyspark import SparkContext

            # the gateway JVM exits when its stdin closes
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            for pid in counters.wait_gone(tree, timeout_s=15):
                os.kill(pid, 9)
            counters.wait_gone(tree, timeout_s=5)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None


RUN_ENCODE_SPAN = "engine.run_encode"


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.t0 = time.perf_counter()
        self.root = root
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.state_dir = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.state_dir, f"run-{os.getpid()}")
        self.session = Session(root, self.work)
        self.layer: dict[str, float] = {}

    def _log(self, msg: str) -> None:
        print(f"perfbench {time.perf_counter() - self.t0:7.2f}s {msg}", file=sys.stderr, flush=True)

    # -- entry ---------------------------------------------------------

    def execute(self) -> tuple[dict, int, int]:
        """→ (metrics by name, ops attempted, ops failed). A traced run
        returns the per-layer metrics, an untraced one the end-to-end."""
        reaped = counters.reap_stale()
        if reaped:
            print(f"perfbench: reaped {reaped} stale process(es)", file=sys.stderr)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        try:
            self._setup()
            self._log(f"set-up done: setup_s={self.setup_s:.2f}")
            if self.wl.mode == "encode":
                ops = self._encode_loop()
            else:
                ops = self._scan_loop()
            metrics = self._metrics(ops)
            self._log(f"{len(ops)} ops measured and checked")
            if self.tracer.enabled:
                metrics = self._layers(ops)
                os.makedirs(os.path.join(self.state_dir, "traces"), exist_ok=True)
                self.tracer.dump(
                    os.path.join(self.state_dir, "traces", f"{self.name}-s{self.seed}.json")
                )
            return metrics, len(ops), sum(not o.ok for o in ops)
        finally:
            self.session.stop()
            shutil.rmtree(self.work, ignore_errors=True)

    # -- set-up --------------------------------------------------------

    def _setup(self) -> None:
        t = time.perf_counter()
        self.session.start()
        spark = self.spark = self.session.spark
        start_s = time.perf_counter() - t

        from parquetry_spark.session import warm_python_workers

        t = time.perf_counter()
        warm_python_workers(spark, WARM_MB_PER_WORKER)
        warm_s = time.perf_counter() - t

        # fixture generation is not set-up: it happens once per seed
        self.fixture, self.meta = fixtures.ensure(
            spark, self.root, os.path.join(self.state_dir, "fixtures"), self.wl.table, self.seed
        )
        self.user_bytes = self.meta["user_bytes"]
        self._log(f"fixture ready: {self.meta['rows']} rows, {self.user_bytes / 1e6:.1f} MB")
        loads = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            df = spark.read.parquet(os.path.join(self.fixture, "data")).cache()
            df.count()
            loads.append(time.perf_counter() - t)
            if i + 1 < SETUP_REPS:
                df.unpersist(blocking=True)
        self.df = df
        self.setup_s = start_s + warm_s + statistics.median(loads)
        self.layer["session.start_s"] = start_s
        self.layer["session.warm_s"] = warm_s

        if self.wl.mode == "scan":
            t = time.perf_counter()
            op = self._encode_op("setup")
            self.blocks_op = op
            self.blocks = spark.read.parquet(op.result["blocks_path"])
            self.ltypes = {
                r["column"]: r["ltype"]
                for r in self.blocks.select("column", "ltype").distinct().collect()
            }
            self.setup_s += time.perf_counter() - t

    # -- encode --------------------------------------------------------

    def _encode_targets(self):
        from pyspark.sql import DataFrameWriter

        from parquetry_spark import engine, partitioning

        return [
            (engine, "encode_table", "engine.encode_table"),
            (engine, "sample_host_shares", "partitioning.sample"),
            (partitioning, "sample_range_boundaries", "partitioning.sample"),
            (DataFrameWriter, "parquet", "spark.write"),
        ]

    def _encode_op(self, op_id: str) -> Op:
        """One `run_encode` into a fresh out_dir; its output is checked
        (Σ manifest rows == input rows) and measured on disk."""
        from parquetry_spark.engine import run_encode

        out = os.path.join(self.work, f"enc-{op_id}")
        before = self._before_op()
        with self.tracer.operation(op_id), self.tracer.patched(self._encode_targets()):
            with self.tracer.span(RUN_ENCODE_SPAN):
                t = time.perf_counter()
                res = run_encode(
                    self.spark, self.df, out,
                    layout=self.wl.layout,
                    bloom_cols=list(self.wl.bloom_cols) if self.wl.bloom_cols else None,
                )
                wall = time.perf_counter() - t
        op = Op(wall_s=wall, result=res)
        self._after_op(op, before)
        first_col = self.df.columns[0]
        op.manifest = [
            (r["part_id"], r["rows"] if r["column"] == first_col else 0, r["enc_us"])
            for r in self.spark.read.parquet(res["manifest_path"])
            .select("part_id", "column", "rows", "enc_us")
            .collect()
        ]
        op.ok = sum(m[1] for m in op.manifest) == self.meta["rows"]
        op.stored_ratio = dir_bytes(out) / self.user_bytes
        return op

    def _encode_loop(self) -> list[Op]:
        for i in range(WARMUP_ENCODES):
            op = self._encode_op(f"warmup{i}")
            shutil.rmtree(os.path.join(self.work, f"enc-warmup{i}"), ignore_errors=True)
            self._log(f"warmup{i}: {op.wall_s:.3f}s")
        ops: list[Op] = []
        measured = 0.0
        with counters.MemorySampler(self.session.jvm_pid) as mem:
            while measured < self.seconds or not ops:
                if ops:  # keep only the newest output, for the round-trip check
                    shutil.rmtree(os.path.join(self.work, f"enc-op{len(ops) - 1}"), ignore_errors=True)
                op = self._guarded(lambda: self._encode_op(f"op{len(ops)}"))
                op.peak_pss = mem.take_peak()
                ops.append(op)
                measured += op.wall_s
                self._log(f"op{len(ops) - 1}: {op.wall_s:.3f}s")
        self._log(f"{len(ops)} timed ops done")
        last = ops[-1]
        if last.ok:
            blocks = self.spark.read.parquet(last.result["blocks_path"])
            last.ok = roundtrip_ok(self.spark, self.df, blocks)
            if self.tracer.enabled:
                self._decode_round(blocks, ops)
        return ops

    # -- scan ----------------------------------------------------------

    def _query_variants(self) -> dict[str, list[Query]]:
        urls = sorted(fixtures.read_table(self.fixture).column("url").to_pylist())
        return build_queries(self.wl.table, self.seed, urls)

    def _run_query(self, blocks, ltypes_all: dict, q: Query) -> tuple[int, ...]:
        """`cli decode`'s sequence: prune → decode_blocks(where) → exact filter."""
        from parquetry_spark import engine
        from parquetry_spark.parity import filters

        ltypes = engine.ordered_ltypes_view(ltypes_all, list(q.cols))
        cols = list(q.cols)
        if q.where:
            blocks = engine.prune_blocks_for_expr(blocks, q.where, ltypes)
            cols += [c for c in engine.filter_columns(q.where, ltypes) if c not in cols]
        out = engine.decode_blocks(blocks, cols, ltypes, where=q.where)
        if q.where:
            out = filters.where(out, q.where)
            if cols != list(q.cols):
                out = out.select(*q.cols)
        with self.tracer.span("spark.collect"):
            return _ints(out.agg(*answer_exprs(out.schema, q.cols)).collect()[0])

    def _scan_targets(self):
        from parquetry_spark import engine
        from parquetry_spark.parity import filters

        return [
            (engine, "prune_blocks_for_expr", "engine.prune_blocks_for_expr"),
            (engine, "decode_blocks", "engine.decode_blocks"),
            (filters, "where", "parity.where"),
        ]

    def _query_op(self, blocks, ltypes, q: Query, op_id: str) -> tuple[Op, tuple | None]:
        before = self._before_op()
        answer = None
        with self.tracer.operation(op_id), self.tracer.patched(self._scan_targets()):
            with self.tracer.span(f"query.{q.kind}"):
                t = time.perf_counter()
                try:
                    answer = self._run_query(blocks, ltypes, q)
                except Exception:  # a failed query is counted, not fatal
                    traceback.print_exc()
                wall = time.perf_counter() - t
        op = Op(wall_s=wall, ok=answer is not None, kind=q.kind,
                answer_bytes=answer_bytes(answer) if answer else 0)
        self._after_op(op, before)
        return op, answer

    def _scan_loop(self) -> list[Op]:
        variants = self._query_variants()
        for rnd in range(WARMUP_ROUNDS):  # untimed: every kind once per round
            for kind in KINDS:
                qs = variants[kind]
                self._query_op(self.blocks, self.ltypes, qs[rnd % len(qs)], "warmup")
        self._log("warm-up queries done")
        rng = random.Random(self.seed)
        ops: list[Op] = []
        asked: list[tuple[Query, tuple | None]] = []
        measured = 0.0
        with counters.MemorySampler(self.session.jvm_pid) as mem:
            rnd = 0
            while measured < self.seconds or not ops:
                for kind in rng.sample(KINDS, len(KINDS)):  # one round: every kind once
                    qs = variants[kind]
                    q = qs[rnd % len(qs)]
                    op, answer = self._query_op(self.blocks, self.ltypes, q, f"q{len(ops)}")
                    op.peak_pss = mem.take_peak()
                    ops.append(op)
                    asked.append((q, answer))
                    measured += op.wall_s
                    self._log(f"q{len(ops) - 1} {kind}: {op.wall_s:.3f}s")
                rnd += 1
        self.rounds = rnd
        reference = self._reference({q for q, _ in asked})
        for op, (q, answer) in zip(ops, asked):
            op.ok = op.ok and answer == reference[q]
        if self.tracer.enabled:
            self._prune_stats(self.blocks, self.ltypes, [v[0] for v in variants.values()])
        return ops

    def _reference(self, queries) -> dict[Query, tuple]:
        """Every distinct query answered by plain Spark over the source
        parquet, in one pass."""
        queries = list(queries)
        exprs, spans = [], []
        for q in queries:
            e = answer_exprs(self.df.schema, q.cols, q.pred())
            spans.append((len(exprs), len(exprs) + len(e)))
            exprs += e
        row = _ints(self.df.agg(*exprs).collect()[0])
        return {q: row[a:b] for q, (a, b) in zip(queries, spans)}

    # -- per-op counters (traced runs only) -----------------------------

    def _before_op(self):
        if not self.tracer.enabled:
            return None
        sc = self.spark.sparkContext
        return counters.last_stage_id(sc), counters.pyworker_cpu_s(self.session.jvm_pid)

    def _after_op(self, op: Op, before) -> None:
        if before is None:
            return
        stage0, cpu0 = before
        op.stages = counters.stage_totals(self.spark.sparkContext, stage0)
        op.pyworker_cpu_s = counters.pyworker_cpu_s(self.session.jvm_pid) - cpu0

    def _guarded(self, fn) -> Op:
        """Run one operation; an exception is a failed op, not a crash."""
        t = time.perf_counter()
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            return Op(wall_s=time.perf_counter() - t, ok=False)

    # -- end-to-end metrics ----------------------------------------------

    def _metrics(self, ops: list[Op]) -> dict[str, float]:
        good = [o for o in ops if o.ok]
        if not good:
            raise RuntimeError(f"{self.name}: every one of {len(ops)} operations failed")
        # each kind's medians: a pooled median of a mix of kinds falls
        # between two kinds' clusters and jumps between them, and a sum
        # over ops is moved by a single slow op
        by_kind: dict[str | None, list[Op]] = {}
        for o in good:
            by_kind.setdefault(o.kind, []).append(o)
        walls = [statistics.median(o.wall_s for o in v) for v in by_kind.values()]
        if self.wl.mode == "encode":
            mb = self.user_bytes / 1e6
            stored = statistics.median(o.stored_ratio for o in good)
        else:
            mb = sum(statistics.median(o.answer_bytes for o in v) for v in by_kind.values()) / 1e6
            stored = self.blocks_op.stored_ratio
        self.throughput = mb / sum(walls)
        return {
            "throughput_mb_s": self.throughput,
            "latency_s_median": statistics.fmean(walls),
            "stored_bytes_per_input_byte": stored,
            "setup_s": self.setup_s,
            "peak_pss_mb": statistics.median(o.peak_pss for o in good) / 1e6,
        }

    # -- per-layer metrics (traced runs) ----------------------------------

    def _decode_round(self, blocks, ops) -> None:
        """Encode workloads: one query of each kind over the last output."""
        ltypes = {
            r["column"]: r["ltype"] for r in blocks.select("column", "ltype").distinct().collect()
        }
        variants = self._query_variants()
        self.decode_ops = [
            self._query_op(blocks, ltypes, variants[k][0], f"decode-{k}")[0] for k in KINDS
        ]
        self._prune_stats(blocks, ltypes, [variants[k][0] for k in KINDS])

    def _prune_stats(self, blocks, ltypes_all, queries) -> None:
        """Blocks kept by pruning, and rows decoded per row returned."""
        from pyspark.sql import functions as F

        from parquetry_spark import engine
        from parquetry_spark.parity import filters

        key = QUERY_COLS[self.wl.table]["full_scan"][0]
        mine = blocks.filter(F.col("column") == key)
        total_parts = mine.count()
        kept = total = rows_in = rows_out = 0
        for q in queries:
            ltypes = engine.ordered_ltypes_view(ltypes_all, list(q.cols))
            pruned = engine.prune_blocks_for_expr(blocks, q.where, ltypes) if q.where else blocks
            k, r = pruned.filter(F.col("column") == key).agg(F.count("*"), F.sum("rows")).collect()[0]
            kept += k
            total += total_parts
            rows_in += r or 0
            src = filters.where(self.df, q.where) if q.where else self.df
            rows_out += src.count()
        self.layer["engine.prune_kept_frac"] = kept / total
        self.layer["engine.rows_decoded_per_result"] = rows_in / max(rows_out, 1)

    def _layers(self, ops: list[Op]) -> dict[str, float]:
        from perfbench.replay import replay

        out = dict(self.layer)
        mean = statistics.fmean
        enc_ops = [o for o in ops if o.manifest] if self.wl.mode == "encode" else [self.blocks_op]
        kernel = [sum(m[2] for m in o.manifest) / 1e6 for o in enc_ops]
        out["engine.kernel_cpu_s"] = mean(kernel)
        out["engine.kernel_share"] = mean(k / (o.wall_s * K) for k, o in zip(kernel, enc_ops))
        out["pyworker.glue_cpu_s"] = mean(o.pyworker_cpu_s - k for k, o in zip(kernel, enc_ops))

        stage, ledger, sample, rows_skew, cpu_skew = [], [], [], [], []
        op_ids = ["setup"] if self.wl.mode == "scan" else [f"op{i}" for i, o in enumerate(ops) if o.manifest]
        for op_id, o in zip(op_ids, enc_ops):
            run = self.tracer.find(RUN_ENCODE_SPAN, op_id)[0]
            enc = self.tracer.find("engine.encode_table", op_id)[0]
            blocks_write = self.tracer.find("spark.write", op_id)[0]
            samp = sum(s["end"] - s["start"] for s in self.tracer.find("partitioning.sample", op_id))
            stage_s = blocks_write["end"] - enc["start"]
            stage.append(stage_s)
            sample.append(samp)
            ledger.append((run["end"] - run["start"]) - samp - stage_s)
            rows, cpu = {}, {}
            for pid, r, us in o.manifest:
                rows[pid] = rows.get(pid, 0) + r
                cpu[pid] = cpu.get(pid, 0) + us
            rows_skew.append(max(rows.values()) / mean(rows.values()))
            cpu_skew.append(max(cpu.values()) / mean(cpu.values()))
        out["engine.encode_stage_s"] = mean(stage)
        out["engine.ledger_s"] = mean(ledger)
        out["partitioning.sample_s"] = mean(sample)
        out["partitioning.part_rows_skew"] = mean(rows_skew)
        out["partitioning.part_cpu_skew"] = mean(cpu_skew)

        query_ops = ops if self.wl.mode == "scan" else self.decode_ops
        for kind in KINDS:
            out[f"engine.decode_s.{kind}"] = statistics.median(
                o.wall_s for o in query_ops if o.kind == kind
            )

        timed = [o for o in ops if o.stages]
        for name in timed[0].stages:
            out[f"spark.{name}"] = mean(o.stages[name] for o in timed)
        out["pyworker.cpu_s"] = mean(o.pyworker_cpu_s for o in timed)
        out["trace.throughput_mb_s"] = self.throughput
        out.update(replay(fixtures.read_table(self.fixture), self.seed))
        return out
