"""Benchmark of the index build, the WAND batch and the serving replica.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every run of every workload does the same
three things over inputs made from ``--seed``:

1. starts a ``local[nproc]`` Spark session and runs ``build_index`` with the
   program's defaults over a generated corpus;
2. runs the workload's first ``BATCH`` queries as one ``bm25_topk_wand`` batch
   (positive mode, top 10);
3. starts the real replica (``cli.py serve --index``, default cache) and
   drives it from one closed-loop client for ``--seconds`` seconds.

The workloads differ in their queries (see ``WORKLOADS``). Answers are
checked outside the timed parts: a sample of the batch's and the replica's
answers against the program's BM25 oracle, and every query answered by both
the batch and the replica against each other.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` the per-layer
metrics, from spans taken around the calls into each layer (``cluster.py``,
``replica.py``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from metrics import E2E_METRICS, INFO_METRICS, LAYER_METRICS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_DOCS = 3000
VOCAB = 50_000  # ~12x the replica's default 4096-entry cache
HEAD = 50
TAIL_FROM = 500
BATCH = 200
REPLICA_STARTS = 3
ORACLE_SAMPLE = 40
CHUNKS = 4  # slices of the timed loop that p95 and qps are medians over
QUERIES_PER_S = 2000  # generated per measured second; the loop stops at the deadline

# Why each workload: the replica's postings cache decides which of its
# layers dominate, so one workload lives in the cache and one misses it.
WORKLOADS = {
    "serve_head": "1-3 of the 50 most frequent terms, distinct queries: posting lists "
                  "stay in the replica cache, so score and select dominate",
    "serve_tail": "1-3 terms uniform over ranks 500-50,000 present in the corpus: terms "
                  "rarely repeat and outnumber the cache, so nearly every request reads "
                  "and decodes postings",
}


def queries_for(workload: str, seed: int, seconds: float, present) -> tuple[list, list]:
    """(warm-up queries, timed queries) of a workload."""
    import numpy as np

    import gen

    n = max(BATCH, int(QUERIES_PER_S * seconds))
    if workload == "serve_head":
        warm = gen.head_warmup(HEAD)
        return warm, gen.head_queries(seed, n, HEAD, set(warm))
    pool = present[present >= TAIL_FROM]
    if not pool.size:
        raise ValueError("corpus has no terms of rank >= TAIL_FROM")
    return gen.tail_queries(seed, 50, pool, stream=6), gen.tail_queries(seed, n, pool)


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def chunked_stats(rtt: list[float], done: list[float]) -> dict:
    """p95 and throughput as medians over ``CHUNKS`` consecutive slices of
    the timed requests, so a burst of host stalls in one slice does not
    move them."""
    n = len(rtt)
    bounds = [n * j // CHUNKS for j in range(CHUNKS + 1)]
    p95, qps = [], []
    for a, b in zip(bounds, bounds[1:]):
        p95.append(quantile(rtt[a:b], 0.95))
        qps.append((b - a) / (done[b - 1] - (done[a - 1] if a else 0.0)))
    return {"serve_p95_ms": statistics.median(p95), "serve_qps": statistics.median(qps)}


def spark_env(work: str) -> None:
    """Session settings for this host; every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the program's 24g default heap does not fit a 15 GB host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


def serve_phase(index: str, warm: list, queries: list, seconds: float,
                trace_out: str | None = None, starts: int = 1) -> dict:
    """Start the replica ``starts`` times (set-up samples); drive the last."""
    from client import Replica, closed_loop

    setup = []
    for _ in range(starts - 1):
        with Replica(index) as r:
            setup.append(r.setup_s)
    with Replica(index, trace_out) as r:
        setup.append(r.setup_s)
        loop = closed_loop(r, warm, queries, seconds)
        loop["cache"] = r.ask({"stats": True})["cache"]
        loop["rss_mb"] = r.peak_rss_mb()
    loop["setup_s"] = setup
    return loop


def serve_layers(trace_file: str, n_warm: int, n_timed: int) -> dict:
    """Per-request self times (ms) and counts of the timed requests."""
    from tracing import self_times

    with open(trace_file) as f:
        rows = [json.loads(line) for line in f]
    selfs = self_times(rows)
    # requests are numbered from the first root span; searches are the
    # root spans named serve.query, in the order the client sent them
    searches = [r["request"] for r in rows if r["parent"] is None and r["name"] == "serve.query"]
    timed = set(searches[n_warm : n_warm + n_timed])
    tot: dict[str, float] = {}
    for r, s in zip(rows, selfs):
        if r["request"] in timed:
            tot[r["name"]] = tot.get(r["name"], 0.0) + s
            for k in ("blocks", "ints", "postings"):
                if k in r:
                    tot[k] = tot.get(k, 0.0) + r[k]
    n = max(1, len(timed))
    return {
        "serve.read_ms": 1000 * tot.get("serve.read", 0.0) / n,
        "serve.decode_ms": 1000 * tot.get("serve.decode", 0.0) / n,
        "serve.assemble_ms": 1000 * tot.get("serve.assemble", 0.0) / n,
        "serve.score_select_ms": 1000 * tot.get("serve.score_select", 0.0) / n,
        "serve.query_other_ms": 1000 * tot.get("serve.query", 0.0) / n,
        "serve.blocks_read": tot.get("blocks", 0.0) / n,
        "serve.ints_decoded": tot.get("ints", 0.0) / n,
        "serve.postings_scored": tot.get("postings", 0.0) / n,
    }


def replica_rows(trace_file: str, rows: list[dict]) -> list[dict]:
    """The replica's spans, renumbered to follow ``rows`` in one trace.

    ``perf_counter`` reads the system-wide monotonic clock, so span times
    from the two processes share one time base."""
    with open(trace_file) as f:
        out = [json.loads(line) for line in f]
    base = len(rows)
    first_request = 1 + max((r["request"] for r in rows), default=-1)
    for r in out:
        del r["self"]
        r["process"] = "replica"
        r["request"] += first_request
        if r["parent"] is not None:
            r["parent"] += base
    return out


def log(t0: float, what: str) -> None:
    print(f"perfbench: {time.perf_counter() - t0:7.2f}s {what}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import numpy as np

    import check
    import cluster
    import gen
    from tracing import CpuSampler, Spans, write_trace

    t_run = time.perf_counter()
    lengths, ranks = gen.corpus_ranks(seed, N_DOCS, VOCAB)
    corpus = gen.corpus_table(lengths, ranks, seed)
    warm, queries = queries_for(workload, seed, seconds, np.unique(ranks))
    paths = gen.write_inputs(os.path.join(work, "inputs"), corpus, {"queries": queries})
    batch_q = queries[:BATCH]
    idx_dir = os.path.join(work, "index")
    spark_env(work)
    log(t_run, "inputs written")

    from neural_search_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark_start_s = time.perf_counter() - t0
    log(t_run, "spark started")
    m: dict = {}
    try:
        if trace:
            spans = Spans()
            tracer = cluster.ClusterTracer(spark, spans)
            with CpuSampler(os.getpid()) as sampler:
                built = tracer.build(paths["corpus"], idx_dir, sampler)
            for layer, fields in built["layers"].items():
                m.update({f"{layer}.{k}": v for k, v in fields.items()})
            m["trace.build_overhead_ratio"] = (
                (sampler.busy_s + tracer.bookkeeping_s) / built["wall_s"])
            b = tracer.batch(built["index"], batch_q)
            batch_rows = b.pop("rows")
            m.update(b)
        else:
            built = cluster.build(spark, paths["corpus"], idx_dir)
            batch_rows, plan_s, collect_s = cluster.run_batch(spark, built["index"], batch_q)
        log(t_run, "index built, batch run")
    finally:
        stop_spark(spark)
    log(t_run, "spark stopped")
    index_bytes = cluster.dir_bytes(idx_dir)

    if trace:
        half = seconds / 2
        plain = serve_phase(idx_dir, warm, queries, half)
        trace_file = os.path.join(work, "replica-trace.jsonl")
        traced = serve_phase(idx_dir, warm, queries, half, trace_out=trace_file)
        m.update(serve_layers(trace_file, len(warm), len(traced["rtt_ms"])))
        m["serve.loop_ms"] = statistics.median(
            a - b for a, b in zip(plain["rtt_ms"], plain["own_ms"]))
        m["cache.hit_rate"] = plain["cache"]["hit_rate"]
        m["cache.evictions"] = plain["cache"]["evictions"]
        m["trace.overhead_ratio"] = (statistics.median(traced["rtt_ms"])
                                     / statistics.median(plain["rtt_ms"]))
        loops = [plain, traced]
        write_trace(os.path.join(HERE, "_out", f"trace-{workload}-{seed}.jsonl"),
                    spans.rows + replica_rows(trace_file, spans.rows))
    else:
        loop = serve_phase(idx_dir, warm, queries, seconds, starts=REPLICA_STARTS)
        loops = [loop]
        rtt = loop["rtt_ms"]
        m.update({
            "setup_s": statistics.median(loop["setup_s"]),
            "build_docs_per_s": N_DOCS / built["wall_s"],
            "build_cpu_s": built["cpu_s"],
            "index_bytes_per_doc": index_bytes / N_DOCS,
            "serve_p50_ms": statistics.median(rtt),
            "replica_rss_mb": loop["rss_mb"],
        })
        info = {"spark_start_s": spark_start_s,
                "batch_queries_per_s": len(batch_q) / (plan_s + collect_s),
                **chunked_stats(rtt, loop["done_s"])}
        samples = {"setup_s": len(loop["setup_s"]), "serve_p50_ms": len(rtt),
                   "serve_p95_ms": len(rtt), "serve_qps": len(rtt)}

    log(t_run, "served")
    # -- correctness, outside every timed part --
    wand: dict[str, list] = {q: [] for q in batch_q}
    for r in sorted(batch_rows, key=lambda r: (r["query_id"], r["rank"])):
        wand[batch_q[r["query_id"]]].append((int(r["doc_id"]), float(r["score"])))
    oracle = check.oracle_for(corpus)
    served = {q: h for lp in loops for q, h in lp["hits"].items()}
    picks = {q: wand[q] for q in check.sample(batch_q, ORACLE_SAMPLE // 2)}
    served_q = list(served)
    for q in check.sample(served_q[len(batch_q):] or served_q, ORACLE_SAMPLE // 2):
        picks.setdefault(q, served[q])
    bad = check.oracle_mismatches(oracle, picks)
    shared = [q for q in batch_q if q in served]
    disagree = [q for q in shared if not check.same_ranking(served[q], wand[q])]
    errors = sum(lp["errors"] for lp in loops)
    attempted = 1 + len(batch_q) + sum(
        lp["attempted"] for lp in loops)
    failed = len(bad) + len(disagree) + errors
    if bad or disagree:
        print(f"mismatch: oracle {bad[:3]} replica-vs-wand {disagree[:3]}", file=sys.stderr)

    log(t_run, "checked")
    units = LAYER_METRICS if trace else E2E_METRICS
    if set(m) != set(units):
        raise RuntimeError(f"metric set differs from metrics.py: {sorted(set(m) ^ set(units))}")
    import pyspark

    print(f"host nproc={os.environ['SPARK_GRAFT_CPUS']} pyspark={pyspark.__version__} "
          f"driver_memory={os.environ['SPARK_GRAFT_DRIVER_MEM']} docs={N_DOCS} "
          f"workload={workload} seed={seed}")
    if not trace:
        for name, v in m.items():
            print(f"{name:24s} {v:14.4f} {units[name]:8s} n={samples.get(name, 1)}")
        for name, v in info.items():
            print(f"{name:24s} {v:14.4f} {INFO_METRICS[name]:8s} n={samples.get(name, 1)} "
                  "(no bound)")
        print(f"{'failed_ratio':24s} {failed / attempted:14.4f} {'ratio':8s} "
              f"n={attempted} (oracle checked {len(picks)}, replica-vs-wand {len(shared)})")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    for need in ("cli.py", "neural_search_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
