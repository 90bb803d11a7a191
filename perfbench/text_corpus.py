"""`text_corpus_cold` workload: text and graph queries from an empty memo
store.

Each run starts with a private, empty memo store. The cold pass calls
every query once, in ledger order, and `cold_s` is its wall time; the
per-corpus memo builds and the shared text layouts are paid here. Warm
passes follow in an order shuffled by the seed; each operation is one
query call plus `collect()`. Every collected answer is hashed with
`tools/check_correctness.value_hash` and compared with its DuckDB
oracle's hash, computed once per run during set-up.
"""

from __future__ import annotations

import contextlib
import importlib.util
import inspect
import os
import sys
import time

import numpy as np

from . import checks
from .harness import Meter, Op, Window, median, peak_rss_mb
from .inputs import CORPUS_SIZES, SMOKE_CORPUS_SIZES, corpus
from .tracer import SparkJobs, Tracer

#: ledger order. Left out, with the reason: see perfbench/README.md.
QUERIES = (
    "minhash_dedup_pairs",
    "bm25_search_topk",
    "decontam_multi_n",
    "decontam_overlap",
    "copurchase_bfs_hops",
    "doc_novelty_scores",
)

#: warm passes per run, at least: three samples of each query
MIN_PASSES = 3

#: memo tags the queries above build, in ledger order
MEMO_TAGS = (
    "shingle3_sets",
    "tok_tf_b16",
    "tok_doc_stats_b16",
    "gram5_posting",
    "shingle3_posting_b16",
    "bfs_hops",
)

#: the shared per-corpus text layouts (sources.shared_text_layout)
TEXT_LAYOUTS = ("token_tf", "token_doc_stats", "shingle_sets", "shingle_posting", "gram5_posting")


def load_value_hash(root: str):
    """`value_hash` from tools/check_correctness.py, the hash the oracle
    gate uses. Importing that tool edits sys.path, so it is restored."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(root, "tools", "check_correctness.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.value_hash


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n)) for root, _dirs, names in os.walk(path) for n in names
    )


class TextCorpusWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.run_dir, "corpus")
        self.value_hash = ctx.value_hash
        self.tracer: Tracer | None = None
        self.jobs: SparkJobs | None = None
        self.first_s: dict[str, float] = {}
        #: (phase, tag, build seconds, inside a text-layout span)
        self.builds: list[tuple[str, str, float, bool]] = []
        self.phase = "cold"
        self.pass_no = 0

    # ------------------------------------------------------------ set-up

    def make_inputs(self) -> None:
        sizes = SMOKE_CORPUS_SIZES if self.ctx.smoke else CORPUS_SIZES
        corpus(self.sf_dir, self.ctx.seed, sizes)
        self.input_bytes = _tree_bytes(self.sf_dir)

    def prepare(self) -> None:
        """Oracle answers: (rows, columns, value hash) per query."""
        import duckdb

        from dsci551_edfs_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.want = {}
            for name in QUERIES:
                cur = con.execute(ORACLES[name])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                self.want[name] = (len(rows), cols, self.value_hash(rows, cols))
        finally:
            con.close()

    def start(self, spark) -> None:
        from dsci551_edfs_spark.pipeline.dedup import release_cached
        from dsci551_edfs_spark.queries import QUERIES as REGISTRY

        self.spark = spark
        self.registry = REGISTRY
        self.release_cached = release_cached
        if self.ctx.trace:
            self.tracer = Tracer()
            self._patch_layers()
            self.jobs = SparkJobs(spark)

    def stop(self) -> None:
        if self.tracer:
            self.tracer.unpatch()

    def _patch_layers(self) -> None:
        from dsci551_edfs_spark import memo
        from dsci551_edfs_spark.sources import registry, shared_text_layout

        tr = self.tracer
        tr.patch_function(registry, "load_table", "registry.load_table")
        for f in TEXT_LAYOUTS:
            tr.patch_function(shared_text_layout, f, "text_layout")
        for f in ("dataframe_memo", "layout_memo"):
            tr.patch_function(memo, f, "memo", inner=self._memo_wrapper(getattr(memo, f), memo.BUILD_SECONDS))

    def _memo_wrapper(self, fn, build_seconds: dict):
        sig = inspect.signature(fn)

        def noted(*args, **kwargs):
            tag = sig.bind(*args, **kwargs).arguments["tag"]
            before = build_seconds.get(tag)
            in_layout = self.tracer.inside("text_layout")
            out = fn(*args, **kwargs)
            after = build_seconds.get(tag)
            if after is not before and after:
                self.builds.append((self.phase, tag, after, in_layout))
            return out

        return noted

    # ------------------------------------------------------------ passes

    def _call(self, window: Window, name: str, op_id: int) -> Op:
        tr = self.tracer
        if tr and self.phase == "warm":
            # each query is traced in every other warm pass; the untraced
            # calls price the tracing overhead
            tr.enabled = (self.pass_no + QUERIES.index(name)) % 2 == 1
        traced = tr is not None and tr.enabled
        root = tr.begin_op(name, op_id) if traced else None
        t0 = time.perf_counter()
        error = ""
        try:
            with tr.span("queries.plan") if traced else contextlib.nullcontext():
                df = self.registry[name](self.spark, self.sf_dir)
            with tr.span("spark.exec") if traced else contextlib.nullcontext():
                rows = df.collect()
        except Exception as e:  # noqa: BLE001 — a failed query is a failed operation
            error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        finally:
            latency = time.perf_counter() - t0
            if traced:
                tr.end_op(root)
        ok = not error and checks.query_ok(
            [tuple(r) for r in rows], df.columns, self.want[name], self.value_hash
        )
        op = Op(name, latency, ok, traced, "" if ok else f"{name} {error or 'wrong answer'}")
        window.ops.append(op)
        self.release_cached()
        if traced:
            self.jobs.poll()
        return op

    def cold(self) -> float:
        """Every query once, in ledger order, from the empty memo store."""
        self.phase = "cold"
        w = Window()
        t0 = time.perf_counter()
        for k, name in enumerate(QUERIES):
            self.first_s[name] = self._call(w, name, -1 - k).latency_s
        cold_s = time.perf_counter() - t0
        self.cold_ops = w.ops
        self.store_mb = self.memo_store_mb()
        return cold_s

    def measure(self, seconds: float, meter: Meter) -> Window:
        self.phase = "warm"
        rng = np.random.default_rng([self.ctx.seed, 4])
        window = Window()
        start = meter.start()
        k = 0
        op_id = 0
        while k < MIN_PASSES or time.perf_counter() - start["wall"] < seconds:
            t0 = time.perf_counter()
            self.pass_no = k
            for name in rng.permutation(QUERIES):
                self._call(window, str(name), op_id)
                op_id += 1
            window.units.append(time.perf_counter() - t0)
            k += 1
        meter.stop(start, window)
        window.peak_rss_mb = peak_rss_mb()
        return window

    def memo_store_mb(self) -> float:
        from dsci551_edfs_spark import memo

        return _tree_bytes(os.path.join(memo.SCRATCH, "memo")) / 1e6

    def stored_bytes_ratio(self) -> float:
        """Memo-store bytes after the cold pass over the corpus bytes."""
        return self.store_mb * 1e6 / self.input_bytes

    # ----------------------------------------------------------- metrics

    def layer_metrics(self, window: Window) -> dict[str, float]:
        m: dict[str, float] = {"memo_store_mb": self.store_mb}
        if not self.tracer:
            return m
        tr, jobs = self.tracer, self.jobs
        jobs.drain()
        cold = [b for b in self.builds if b[0] == "cold"]
        m["memo.build_s"] = sum(b[2] for b in cold)
        m["memo.builds"] = len(cold)
        m["memo.rebuilds_warm"] = len([b for b in self.builds if b[0] == "warm"])
        m["text_layout.build_s"] = sum(b[2] for b in cold if b[3])
        for tag in MEMO_TAGS:
            m[f"memo.build_s.{tag}"] = sum(b[2] for b in cold if b[1] == tag)
        def warm(name):
            return [s for s in tr.named(name) if s.op is not None and s.op >= 0]

        loads = warm("registry.load_table")
        m["registry.load_table_s"] = median([s.dur for s in loads])
        m["registry.load_table_calls"] = len(loads) / len([o for o in window.ops if o.traced])
        m["queries.plan_s"] = median([s.dur for s in warm("queries.plan")])
        m["spark.exec_s"] = median([s.dur for s in warm("spark.exec")])
        for name in QUERIES:
            m[f"q.{name}.first_s"] = self.first_s[name]
            m[f"q.{name}_s"] = median([o.latency_s for o in window.ops if o.kind == name])
        return m
