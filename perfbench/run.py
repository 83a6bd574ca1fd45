"""Benchmark of the near-duplicate engine's user-facing paths.

    python3 perfbench/run.py --workload docs_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see NOTES.md for why these):

  docs_pipeline  DedupPipeline.run over seeded dense documents (bigint ids,
                 substring layer on), scored against an exact-Jaccard
                 brute-force reference.
  stream_ingest  StreamingDedup.process_batch over seeded image
                 micro-batches against the growing index, then reconcile(),
                 scored against the generator's planted groups.

One process, one caller, Spark at local[<usable cpus>], BLAS pinned to one
thread. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same operation with spans and prints the per-layer metrics. The last line
of standard output is one JSON object: correct, attempted, failed, metrics.
Everything the run writes stays under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUPS = 5  # setups per run; setup_s is their median
WORKLOADS = {
    "docs_pipeline": {
        "size": {"rows": 500},
        # outputs below these floors are wrong, not slow; see NOTES.md for
        # the values measured at the seed commit
        "floors": {"recall": 0.55, "precision": 0.85},
    },
    "stream_ingest": {
        "size": {"rows": 600, "batches": 4},
        "compact_every": 4,
        "floors": {"recall": 0.9, "precision": 0.95},
    },
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measurement floor: whole operations repeat until it is spent")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(cores: int) -> None:
    """Keep every file the run (and its JVM and Python workers) writes
    inside the work directory, and pin BLAS to one thread. Must run before
    numpy or pyspark is imported."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT]


def spark_extra(trace: bool) -> dict:
    extra = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    if trace:
        # the status store evicts after 1000 stages by default; a traced
        # stream with compaction runs more than that
        extra["spark.ui.retainedJobs"] = "100000"
        extra["spark.ui.retainedStages"] = "100000"
    return extra


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, in seconds per CPU,
    summed since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    ncpu = sum(1 for x in lines if x.startswith("cpu") and x[3].isdigit())
    return int(lines[0].split()[8]) / os.sysconf("SC_CLK_TCK") / ncpu


def clock() -> float:
    """Wall clock that stops while other guests hold this machine's CPUs:
    perf_counter minus steal_s. On a host without steal it is the wall
    clock. Every timing the end-to-end metrics use is taken on it, because
    neighbours on a shared host steal CPU in episodes of minutes that would
    otherwise dominate the run-to-run spread."""
    return time.perf_counter() - steal_s()


# ------------------------------------------------------------------ setup
def setup(prev, inp: dict, workload: str, cores: int, extra: dict):
    """get_spark boot plus loading and caching the input. Returns
    (spark, data, boot seconds, total seconds)."""
    from pyspark.sql import functions as F

    from gaoya_spark.session import get_spark

    if prev is not None:
        prev.stop()
    t0 = clock()
    spark = get_spark("perfbench", cores=cores, extra=extra)
    t1 = clock()
    base = spark.read.parquet(inp["path"]).cache()
    base.count()
    if workload == "stream_ingest":
        data = [base.where(F.col("batch") == b).drop("batch")
                for b in range(WORKLOADS[workload]["size"]["batches"])]
    else:
        data = [base]
    return spark, data, t1 - t0, clock() - t0


# -------------------------------------------------------------- operations
def docs_config():
    from gaoya_spark.plans.pipeline import PipelineConfig

    return PipelineConfig(id_col="doc_id", caption_col="text", phash_col=None,
                          use_substring=True)


def run_docs(spark, data, wh_dir: str) -> dict:
    """One DedupPipeline.run in a fresh warehouse. Latency runs from the
    call until the clusters table is written and read back."""
    from gaoya_spark.plans.pipeline import DedupPipeline

    t0, s0 = clock(), steal_s()
    clusters = DedupPipeline(spark, wh_dir, docs_config()).run(data[0])
    wall, steal = clock() - t0, steal_s() - s0
    out = clusters.select("id", "component").toPandas()
    return {"wall": wall, "steal": steal, "latencies": [wall], "ops": 1,
            "ids": out["id"].to_numpy(), "comp": out["component"].to_numpy()}


def run_stream(spark, data, wh_dir: str, compact_every: int) -> dict:
    """Closed loop, one caller: each micro-batch is submitted when the
    previous one returns; reconcile() closes the stream."""
    from gaoya_spark.sources.warehouse import Warehouse
    from gaoya_spark.streaming.stream_dedup import StreamingDedup

    sd = StreamingDedup(spark, Warehouse(spark, wh_dir), compact_every=compact_every)
    lat = []
    t0, s0 = clock(), steal_s()
    for b, df in enumerate(data):
        tb = clock()
        sd.process_batch(df, b)
        lat.append(clock() - tb)
    labels = sd.reconcile()
    wall, steal = clock() - t0, steal_s() - s0
    out = labels.select("id", "component").toPandas()
    return {"wall": wall, "steal": steal, "latencies": lat, "ops": len(data) + 1,
            "ids": out["id"].to_numpy(), "comp": out["component"].to_numpy()}


def run_op(workload: str, spark, data, wh_dir: str) -> dict:
    shutil.rmtree(wh_dir, ignore_errors=True)
    if workload == "docs_pipeline":
        return run_docs(spark, data, wh_dir)
    return run_stream(spark, data, wh_dir, WORKLOADS[workload]["compact_every"])


def output_counts(res: dict) -> dict:
    import numpy as np

    _, sizes = np.unique(res["comp"], return_counts=True)
    multi = sizes[sizes > 1]
    return {"clusters": int(len(multi)), "clustered_ids": int(multi.sum())}


def check_drift(key: str, counts: dict) -> int:
    """1 when this seed's output counts differ from the first run of the
    same (workload, seed, size) in this checkout, else 0."""
    path = os.path.join(WORK, "results", "counts", key + ".json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(counts, f)
        return 0
    with open(path) as f:
        return int(json.load(f) != counts)


# ---------------------------------------------------------------- metrics
def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) at the highest percentile with at least
    ten samples beyond it; with fewer than 11 samples, the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def process_tree_hwm_mb(root_pid: int) -> float:
    """Sum of peak resident set (VmHWM) over a process and its descendants."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_facts(cores: int, inp: dict, workload: str, seed: int, trace: bool) -> dict:
    import numpy
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "nproc": os.cpu_count(), "cores_used": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__, "numpy": numpy.__version__,
        "input_rows": len(inp["pdf"]), "input_bytes": inp["bytes"],
        "size": WORKLOADS[workload]["size"],
        "input_gen_s": inp["gen_s"], "input_cache_hit": inp["cache_hit"],
        "policy": f"{SETUPS} setups per run (the first launches the JVM); the "
                  "timed operation is the first in its session (cold), as a batch "
                  "job or a newly started stream sees it",
    }


def end_to_end(inp: dict, setups: list[float], results: list[dict],
               scores: dict) -> tuple[dict, dict]:
    walls = [r["wall"] for r in results]
    lat = [x for r in results for x in r["latencies"]]
    tail_v, tail_p, tail_n = tail(lat)
    m = {
        "setup_s": statistics.median(setups),
        "rows_per_s": len(inp["pdf"]) / statistics.median(walls),
        "batch_p50_s": statistics.median(lat),
        "batch_tail_s": tail_v,
        "dup_recall": scores["recall"],
        "dup_precision": scores["precision"],
    }
    facts = {"batch_tail_percentile": tail_p, "batch_samples": tail_n,
             "op_walls_s": walls, "op_steal_s": [r["steal"] for r in results],
             "setups_s": setups, "score_bases": scores}
    return m, facts


# ---------------------------------------------------------- traced layers
STAGES = ("minhash_signatures", "minhash_edges", "simhash_signatures", "simhash_edges",
          "substring_edges", "edges", "labels", "clusters")


def layer_metrics(workload, tr, engine, root, wh_dir, inp, cores, boot_s, extras) -> dict:
    from spans import engine_total

    rows = len(inp["pdf"])
    m: dict[str, float] = {"session.boot_s": boot_s}
    dur = tr.dur

    def total(name, **attrs):
        return sum(dur(s) for s in tr.find(root, name, **attrs))

    def stage(name):
        return total("Warehouse.run_stage", stage=name)

    def eng(spans, key):
        return sum(engine_total(tr, engine, s["id"])[key] for s in spans)

    def stage_spans(name):
        return tr.find(root, "Warehouse.run_stage", stage=name)

    op = tr.spans[root]
    op_wall = dur(op)
    pipeline = workload == "docs_pipeline"
    if pipeline:
        sig_spans = stage_spans("minhash_signatures") + stage_spans("simhash_signatures")
        m["signatures.minhash_s"] = stage("minhash_signatures")
        m["signatures.simhash_s"] = stage("simhash_signatures")
        mh_spans = stage_spans("minhash_edges")
        m["minhash_lsh.dedup_s"] = stage("minhash_edges")
        m["minhash_lsh.query_s"] = 0.0
    else:
        sig_spans = tr.find(root, "MinHashLSH.signatures") + tr.find(
            root, "MinHashLSH.signatures.execute")
        m["signatures.minhash_s"] = sum(dur(s) for s in sig_spans)
        m["signatures.simhash_s"] = 0.0
        mh_spans = tr.find(root, "MinHashLSH.dedup_pairs") + tr.find(root, "MinHashLSH.query")
        m["minhash_lsh.dedup_s"] = total("MinHashLSH.dedup_pairs")
        m["minhash_lsh.query_s"] = total("MinHashLSH.query")
    sig_s = m["signatures.minhash_s"] + m["signatures.simhash_s"]
    m["signatures.rows_per_s"] = rows / sig_s if sig_s else 0.0
    m["signatures.cpu_s"] = eng(sig_spans, "executor_cpu_s")

    m["minhash_lsh.candidates"] = extras.get("minhash_candidates", 0)
    m["minhash_lsh.pairs"] = extras.get("minhash_pairs", 0)
    m["minhash_lsh.hot_buckets"] = extras.get("hot_buckets", 0)
    m["minhash_lsh.dropped_buckets"] = extras.get("dropped_buckets", 0)
    m["minhash_lsh.shuffle_write_bytes"] = eng(mh_spans, "shuffle_write_bytes")
    m["minhash_lsh.spill_bytes"] = eng(mh_spans, "spill_bytes")

    m["simhash_lsh.dedup_s"] = stage("simhash_edges")
    m["simhash_lsh.candidates"] = extras.get("simhash_candidates", 0)
    m["simhash_lsh.pairs"] = extras.get("simhash_pairs", 0)
    m["simhash_lsh.shuffle_write_bytes"] = eng(stage_spans("simhash_edges"),
                                               "shuffle_write_bytes")
    m["substring.pairs_s"] = stage("substring_edges")
    m["substring.candidates"] = extras.get("substring_candidates", 0)
    m["substring.pairs"] = extras.get("substring_pairs", 0)
    for layer in ("minhash_lsh", "simhash_lsh", "substring"):
        c = m[f"{layer}.candidates"]
        m[f"{layer}.verify_yield"] = m[f"{layer}.pairs"] / c if c else 0.0

    cc = tr.find(root, "connected_components")
    m["cluster.cc_s"] = stage("labels") if pipeline else sum(dur(s) for s in cc)
    m["cluster.edges_in"] = extras["edges_in"]
    m["cluster.components"] = extras["components"]
    m["cluster.largest_component"] = extras["largest_component"]
    m["cluster.iterations"] = sum(
        1 for d in os.listdir(wh_dir) if d.startswith("labels_iter_"))

    writes = [s for s in tr.subtree(root) if s["name"] in
              ("Warehouse.write", "Warehouse.overwrite_partitions", "Warehouse.compact")]
    compacts = [s for s in writes if s["name"] == "Warehouse.compact"]
    m["warehouse.bytes_written"] = sum(s["attrs"]["bytes"] for s in writes)
    m["warehouse.files_written"] = sum(s["attrs"]["files"] for s in writes)
    m["warehouse.bytes_per_input_byte"] = m["warehouse.bytes_written"] / inp["bytes"]
    m["warehouse.compact_s"] = sum(dur(s) for s in compacts)
    m["warehouse.compact_bytes_rewritten"] = sum(s["attrs"]["bytes"] for s in compacts)
    m["warehouse.resume_s"] = extras.get("resume_s", 0.0)

    for st in STAGES:
        m[f"pipeline.stage_s.{st}"] = stage(st)
    m["pipeline.metrics_s"] = (
        op_wall - sum(stage(st) for st in STAGES) if pipeline else 0.0)

    batches = tr.find(root, "StreamingDedup.process_batch")
    nb = len(batches) or 1
    m["streaming.batch_self_s"] = (
        statistics.median(tr.self_time(s) for s in batches) if batches else 0.0)
    m["streaming.jobs_per_batch"] = eng(batches, "jobs") / nb
    m["streaming.files_per_batch"] = sum(
        s["attrs"]["files"] for b in batches for s in tr.subtree(b["id"])
        if s["name"] in ("Warehouse.overwrite_partitions", "Warehouse.compact")) / nb
    m["streaming.reconcile_s"] = total("StreamingDedup.reconcile")

    e = engine_total(tr, engine, root)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"engine.{k}"] = e[k]
    m["engine.wait_s"] = e["executor_run_s"] - e["executor_cpu_s"]
    m["engine.busy_share"] = e["executor_run_s"] / (op_wall * cores)
    return m


def trace_extras(workload, spark, data, wh_dir, res) -> dict:
    """Counts that cost an extra pass, so only the traced run makes them:
    candidate pairs before verification, and the bucket-tier counts the
    pipeline's own metrics tables already hold."""
    import numpy as np
    from pyspark.sql import functions as F

    from gaoya_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, wh_dir)
    _, sizes = np.unique(res["comp"], return_counts=True)
    x = {"components": int(len(sizes)), "largest_component": int(sizes.max())}
    if workload != "docs_pipeline":
        x["edges_in"] = wh.read("stream_edges").count()
        x["minhash_pairs"] = x["edges_in"]
        return x
    from gaoya_spark.operators.minhash_lsh import MinHashLSH
    from gaoya_spark.operators.simhash_lsh import SimHashLSH
    from gaoya_spark.operators.substring import candidate_gram_pairs
    from gaoya_spark.plans.pipeline import DedupPipeline

    cfg = docs_config()
    rows = {s: int(i["rows"]) for s, i in wh.manifest()["stages"].items()}
    x["edges_in"] = rows["edges"]
    x["minhash_pairs"] = rows["minhash_edges"]
    x["simhash_pairs"] = rows["simhash_edges"]
    x["substring_pairs"] = rows["substring_edges"]
    x["minhash_candidates"] = MinHashLSH(cfg.minhash).candidate_pairs(
        wh.read("minhash_signatures"), max_bucket_size=cfg.max_bucket_size,
        bucket_cap_hard=cfg.bucket_cap_hard).count()
    x["simhash_candidates"] = SimHashLSH(cfg.simhash).candidate_pairs(
        wh.read("simhash_signatures")).count()
    x["substring_candidates"] = candidate_gram_pairs(
        data[0], cfg.id_col, cfg.caption_col, cfg.substring_min_len).count()
    tiers = wh.read("metrics_band_skew").agg(
        F.sum("n_hot").alias("hot"), F.sum("n_dropped").alias("dropped")).first()
    x["hot_buckets"], x["dropped_buckets"] = int(tiers["hot"]), int(tiers["dropped"])
    t0 = time.perf_counter()
    DedupPipeline(spark, wh_dir, cfg).run(data[0])
    x["resume_s"] = time.perf_counter() - t0
    return x


# -------------------------------------------------------------------- main
def measure(args, key, spark, data) -> tuple[list[dict], int, int]:
    """Whole operations in fresh warehouses until the window is spent (at
    least one). Returns (results, attempted, failed)."""
    results, attempted, failed = [], 0, 0
    t_start = time.perf_counter()
    while not results or time.perf_counter() - t_start < args.seconds:
        try:
            res = run_op(args.workload, spark, data,
                         os.path.join(WORK, "warehouse", f"op{len(results)}"))
        except Exception:
            traceback.print_exc()
            return results, attempted + 1, failed + 1
        attempted += res["ops"]
        failed += check_drift(key, output_counts(res))
        results.append(res)
    return results, attempted, failed


def walls_file(workload: str) -> str:
    """This checkout's record of untraced operation walls for a workload at
    its current size (one per line; seeds only reorder the same kind of
    input, so walls of all seeds compare with a traced run)."""
    from inputs import size_key

    return os.path.join(WORK, "results", "walls",
                        f"{workload}-{size_key(WORKLOADS[workload]['size'])}")


def traced(args, inp, key, spark, data, cores, boots, facts):
    """The same cold operation as an untraced run, with spans. Tracing
    overhead is its wall minus the median untraced wall this checkout has
    recorded for the workload. Returns (results, attempted, failed, metrics)."""
    from spans import Tracer, engine_by_span

    wh_dir = os.path.join(WORK, "warehouse", "op0")
    tracer = Tracer(spark, trace_id=key)
    tracer.install()
    try:
        with tracer.span("operation", workload=args.workload) as root:
            res = run_op(args.workload, spark, data, wh_dir)
    except Exception:
        traceback.print_exc()
        return [], 1, 1, {}
    finally:
        tracer.uninstall()
    failed = check_drift(key, output_counts(res))
    rss_mb = process_tree_hwm_mb(spark.sparkContext._gateway.proc.pid)
    t0 = time.perf_counter()
    engine = engine_by_span(spark)
    extras = trace_extras(args.workload, spark, data, wh_dir, res)
    facts["trace_extras_s"] = time.perf_counter() - t0
    path = walls_file(args.workload)
    walls = []
    if os.path.exists(path):
        with open(path) as f:
            walls = [float(x) for x in f.read().split()]
    facts["traced_wall_s"] = res["wall"]
    facts["untraced_walls_recorded"] = len(walls)
    facts["trace_overhead_s"] = res["wall"] - statistics.median(walls) if walls else None
    metrics = layer_metrics(args.workload, tracer, engine, root["id"], wh_dir, inp,
                            cores, statistics.median(boots), extras)
    metrics["trace.bookkeeping_s"] = tracer.bookkeeping_s
    metrics["engine.peak_rss_mb"] = rss_mb
    write_spans(key, tracer, engine)
    return [res], res["ops"], failed, metrics


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "gaoya_spark")):
        print(f"program not found: no gaoya_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]
    cores = len(os.sched_getaffinity(0))
    pin_environment(cores)

    from pyspark import SparkContext

    from inputs import InputCache
    from reference import labels_for, pair_scores

    wl = WORKLOADS[args.workload]
    inp = InputCache(os.path.join(WORK, "cache")).get(args.workload, args.seed, wl["size"])
    key = os.path.basename(inp["dir"])

    spark, setups, boots = None, [], []
    for _ in range(SETUPS):
        spark, data, boot_s, setup_s = setup(spark, inp, args.workload, cores,
                                             spark_extra(bool(args.trace)))
        setups.append(setup_s)
        boots.append(boot_s)
    facts = host_facts(cores, inp, args.workload, args.seed, bool(args.trace))
    facts["java"] = spark._jvm.java.lang.System.getProperty("java.version")

    if args.trace:
        results, attempted, failed, metrics = traced(
            args, inp, key, spark, data, cores, boots, facts)
    else:
        results, attempted, failed = measure(args, key, spark, data)
        facts["peak_rss_mb"] = process_tree_hwm_mb(SparkContext._gateway.proc.pid)
        path = walls_file(args.workload)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as f:
            f.writelines(f"{r['wall']!r}\n" for r in results)

    ok = bool(results) and failed == 0
    scores = {"recall": 0.0, "precision": 0.0}
    if results:
        r0 = results[0]
        ids = inp["pdf"]["doc_id" if args.workload == "docs_pipeline" else "image_id"]
        scores = pair_scores(labels_for(ids.to_numpy(), r0["ids"], r0["comp"]),
                             inp["reference"])
        ok = ok and all(scores[k] >= v for k, v in wl["floors"].items())
        if not args.trace:
            metrics, more = end_to_end(inp, setups, results, scores)
            facts.update(more)
    else:
        metrics = {}

    t0 = time.perf_counter()
    shutdown(spark)
    facts["shutdown_s"] = time.perf_counter() - t0
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if results and missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 3
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in wanted}
    print(json.dumps({"facts": facts}, default=str))
    for name, v in out.items():
        print(f"{name:40s} {v['value']:>16.6g} {v['unit']}")
    print(json.dumps({"correct": ok, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": out}))
    return 0


def write_spans(key: str, tracer, engine: dict) -> None:
    path = os.path.join(WORK, "results", f"spans-{key}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [dict(s, engine=engine.get(s["id"])) for s in tracer.spans]
    with open(path, "w") as f:
        json.dump(spans, f, default=str)


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit; the next get_spark launches a fresh JVM."""
    import subprocess

    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
