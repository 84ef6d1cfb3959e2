"""The cluster path: ``build_index`` and one ``bm25_topk_wand`` batch.

Untraced, only wall time and process-tree CPU are taken around the calls.
Traced, the calls the build and batch make into Spark are wrapped from
here: each layer runs under its own Spark job group, so its stages' metrics
can be read back from the status store, and a sampler records process-tree
CPU so any stage interval can be charged its CPU.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam

from metrics import BUILD_LAYERS, LAYER_FIELDS
from tracing import CpuSampler, Spans, covered, merge, stage_metrics, tree_cpu_s

# write path basename -> build layer; layers are named by the write or
# collect they wrap (collects are charged to the layer of the phase they
# run in, which the preceding write decides)
_WRITE_LAYER = {
    "docmap": "build.tokenize_docmap",
    "term_stats": "build.stats",
    "corpus_stats": "build.stats",
    "postings": "build.postings",
    "_metrics": "build.metrics_pass",
}
_PHASE_AFTER = {"build.tokenize_docmap": "build.stats", "build.postings": None}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def build(spark, corpus_path: str, out_dir: str) -> dict:
    """Untraced build: wall seconds and process-tree CPU seconds."""
    from neural_search_spark.index.build import build_index

    corpus = spark.read.parquet(corpus_path)
    cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    idx = build_index(corpus, out_dir)
    wall = time.perf_counter() - t0
    return {"index": idx, "wall_s": wall, "cpu_s": tree_cpu_s(os.getpid()) - cpu0}


def run_batch(spark, idx, queries: list[str], pruning_stats: dict | None = None) -> tuple:
    """One collected WAND batch: (rows, plan seconds, collect seconds)."""
    from neural_search_spark.query.bm25_wand import bm25_topk_wand

    qdf = spark.createDataFrame(
        [(i, q, 10) for i, q in enumerate(queries)],
        "query_id long, query_text string, top_k int",
    )
    t0 = time.perf_counter()
    df = bm25_topk_wand(idx, qdf, pruning_stats=pruning_stats)
    t1 = time.perf_counter()
    rows = df.collect()
    return rows, t1 - t0, time.perf_counter() - t1


class _Patch:
    """Attribute patches undone on exit."""

    def __init__(self) -> None:
        self._undo: list = []

    def set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def __enter__(self) -> "_Patch":
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)


class ClusterTracer:
    """Spans and job groups around the build's writes and collects, and
    around the WAND batch; stage metrics are read once per traced call."""

    def __init__(self, spark, spans: Spans) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans = spans
        self.groups: list[tuple[str, int]] = []  # (job group, span index)
        self.depth = 0
        self.phase: str | None = None
        self.bookkeeping_s = 0.0
        # stage times are epoch seconds; spans use perf_counter
        self.epoch_off = time.time() - time.perf_counter()

    @contextmanager
    def layer(self, name: str):
        """Open a layer span under a fresh job group, unless one is open."""
        if self.depth:
            yield
            return
        group = f"perfbench-{len(self.groups)}"
        self.sc.setJobGroup(group, name)
        i = self.spans.open(name)
        self.groups.append((group, i))
        self.depth += 1
        try:
            yield
        finally:
            self.depth -= 1
            self.spans.close(i)
            self.sc.setJobGroup("perfbench-other", "untraced")

    def _hooks(self, patch: _Patch) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from neural_search_spark.index import build as build_mod

        tracer = self
        write, collect, is_empty = DataFrameWriter.parquet, DataFrame.collect, DataFrame.isEmpty
        assign = build_mod.assign_doc_ids

        def traced_write(writer, path, *args, **kwargs):
            name = _WRITE_LAYER.get(os.path.basename(os.path.normpath(path)))
            if name is None:
                return write(writer, path, *args, **kwargs)
            with tracer.layer(name):
                out = write(writer, path, *args, **kwargs)
            if name in _PHASE_AFTER:
                tracer.phase = _PHASE_AFTER[name]
            return out

        def in_phase(fn):
            def traced(*args, **kwargs):
                if tracer.phase is None:
                    return fn(*args, **kwargs)
                with tracer.layer(tracer.phase):
                    return fn(*args, **kwargs)
            return traced

        patch.set(DataFrameWriter, "parquet", traced_write)
        patch.set(DataFrame, "collect", in_phase(collect))
        patch.set(DataFrame, "isEmpty", in_phase(is_empty))
        patch.set(build_mod, "assign_doc_ids", in_phase(assign))

    def build(self, corpus_path: str, out_dir: str, sampler: CpuSampler) -> dict:
        """Traced build: per-layer wall, CPU, JVM CPU, shuffle and spill."""
        from neural_search_spark.index.build import build_index

        corpus = self.spark.read.parquet(corpus_path)
        self.phase = "build.doc_ids"
        with _Patch() as patch:
            self._hooks(patch)
            root = self.spans.open("build")
            idx = build_index(corpus, out_dir)
            self.spans.close(root)
        self.phase = None
        t0 = time.perf_counter()
        stages = stage_metrics(self.spark, [g for g, _ in self.groups])
        self.bookkeeping_s += time.perf_counter() - t0
        rows = self.spans.rows
        out: dict = {}

        def acc(layer: str, wall: float, cpu: float, sts: list[dict]) -> None:
            m = out.setdefault(layer, dict.fromkeys(LAYER_FIELDS, 0.0))
            m["wall_s"] += wall
            m["cpu_s"] += cpu
            for s in sts:
                m["jvm_cpu_s"] += s["jvm_cpu_s"]
                m["shuffle_write_bytes"] += s["shuffle_write_bytes"]
                m["spill_bytes"] += s["spill_bytes"]

        for layer in BUILD_LAYERS:
            acc(layer, 0.0, 0.0, [])
        for group, i in self.groups:
            r, sts = rows[i], stages[group]
            for s in sts:
                self.spans.add(f"stage.{s['stage']}", s["submitted"] - self.epoch_off,
                               s["completed"] - self.epoch_off, parent=i)
            if r["name"] != "build.postings":
                acc(r["name"], r["end"] - r["start"],
                    sampler.between(r["start"], r["end"]), sts)
                continue
            # one write, two layers: the shuffle-map stages (they write
            # shuffle) are the postings shuffle; the rest is encode + write
            maps = [s for s in sts if s["shuffle_write_bytes"] > 0]
            spans = [(max(s["submitted"] - self.epoch_off, r["start"]),
                      min(s["completed"] - self.epoch_off, r["end"])) for s in maps]
            map_wall = covered(r["start"], r["end"], spans)
            map_cpu = sum(sampler.between(a, b) for a, b in merge(spans))
            total_cpu = sampler.between(r["start"], r["end"])
            acc("build.postings_shuffle", map_wall, map_cpu, maps)
            acc("build.encode_write", (r["end"] - r["start"]) - map_wall,
                total_cpu - map_cpu, [s for s in sts if s not in maps])
            out["build.postings_shuffle"]["rows"] = sum(s["shuffle_write_records"] for s in maps)
            out["build.encode_write"]["rows_out"] = sum(
                s["output_records"] for s in sts if s not in maps)
            out["build.encode_write"]["bytes_out"] = sum(
                s["output_bytes"] for s in sts if s not in maps)
        build_row = rows[root]
        wall = build_row["end"] - build_row["start"]
        out["build.driver_other"] = {
            "wall_s": wall - sum(out[layer]["wall_s"] for layer in BUILD_LAYERS)
        }
        return {"index": idx, "wall_s": wall, "layers": out}

    def batch(self, idx, queries: list[str]) -> dict:
        """Traced WAND batch: plan, scan, kernel and rank times; blocks read;
        windows visited of windows considered."""
        from neural_search_spark.query import bm25_wand

        accs = {
            "window": self.sc.accumulator((math.inf, -math.inf), _MinMax()),
            "cpu": self.sc.accumulator(0.0),
            "blocks": self.sc.accumulator(0),
        }
        stats: dict = {}
        with _Patch() as patch:
            patch.set(bm25_wand, "_shard_kernel", _traced_kernel(bm25_wand._shard_kernel, accs))
            with self.layer("batch"):
                group = self.groups[-1][0]
                rows, plan_s, collect_s = run_batch(self.spark, idx, queries, stats)
        r = self.spans.rows[self.groups[-1][1]]
        t_collect = r["end"] - collect_s
        k0, k1 = (t - self.epoch_off for t in accs["window"].value)
        t0 = time.perf_counter()
        sts = stage_metrics(self.spark, [group])[group]
        self.bookkeeping_s += time.perf_counter() - t0
        # the kernel's stage is the one running when the first kernel call began
        kstage = [s for s in sts if s["submitted"] - self.epoch_off <= k0
                  <= s["completed"] - self.epoch_off]
        self.spans.add("batch.plan", r["start"], r["start"] + plan_s, parent=self.groups[-1][1])
        self.spans.add("batch.wand_kernel", k0, k1, parent=self.groups[-1][1])
        visited, considered = stats["visited"].value, stats["total"].value
        return {
            "rows": rows,
            "batch.plan.wall_s": plan_s,
            "batch.scan.wall_s": k0 - t_collect,
            "batch.wand_kernel.wall_s": k1 - k0,
            "batch.wand_kernel.cpu_s": accs["cpu"].value,
            "batch.wand_kernel.blocks_read": accs["blocks"].value,
            "batch.rank.wall_s": r["end"] - k1,
            "batch.rank.shuffle_bytes": sum(s["shuffle_write_bytes"] for s in kstage),
            "batch.windows_visited": visited,
            "batch.windows_considered": considered,
            "batch.windows_visited_ratio": visited / considered if considered else 0.0,
        }


class _MinMax(AccumulatorParam):
    """(earliest start, latest end) over kernel calls on every executor."""

    def zero(self, value):
        return (math.inf, -math.inf)

    def addInPlace(self, a, b):
        return (min(a[0], b[0]), max(a[1], b[1]))


def _traced_kernel(factory, accs: dict):
    """Wrap ``bm25_wand._shard_kernel`` so each per-shard call reports its
    wall window, CPU seconds and the posting blocks it was handed."""

    def traced_factory(*args, **kwargs):
        fn = factory(*args, **kwargs)

        def traced(postings_pdfs, docmap_pdfs):
            t0, c0 = time.time(), time.process_time()
            blocks = sum(len(p) for p in postings_pdfs if p is not None)
            out = fn(postings_pdfs, docmap_pdfs)
            accs["cpu"].add(time.process_time() - c0)
            accs["blocks"].add(blocks)
            accs["window"].add((t0, time.time()))
            return out

        return traced

    return traced_factory
