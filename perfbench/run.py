"""Seeded KG-construction benchmark for glirel_spark.

    python3 perfbench/run.py --workload kg_lexical_dedup --seed 1 --seconds 8 --trace 0

Runs one workload of ``BENCHMARK.json`` against the public functions of
``glirel_spark`` in one Python process: Spark ``local[<cores>]``, one
client thread, a 3 GB driver heap. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics from in-memory spans. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
SPEC = ROOT / "BENCHMARK.json"
WORK = ROOT / ".perfbench"
DRIVER_MEM = "3g"
CHECK_THREADS = 4
# the program pins numpy's BLAS to one thread in every Spark worker;
# pin the driver too (before numpy loads) so the in-process model
# replay of the traced run measures the same kernel configuration
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"


def preflight() -> None:
    """Refuse to run without the program, its oracle or the bundled data."""
    needed = [
        ROOT / "glirel_spark" / "plans" / "pipeline.py",
        ROOT / "__spark_entry__.py",
        ROOT / "tools" / "check_oracle.py",
        ROOT / "goldens" / "sf0.1" / "triples_neural.parquet",
        ROOT / "perfbench" / "data" / "documents.parquet",
        SPEC,
    ]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        sys.exit(f"perfbench: missing {', '.join(missing)}; run from a full checkout")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def start_spark(work: Path):
    """local[<cores>] session through the program's own factory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Spark's Python workers import glirel_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from glirel_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        cores=cores,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cached(sc) -> float:
    """MB held by cached or checkpointed blocks."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty where it is absent)."""
    stat = Path("/proc/stat")
    return [int(x) for x in stat.read_text().split("\n", 1)[0].split()[1:]] if stat.exists() else []


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings; the timings rise with it on a shared host."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def header(spark, args) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master, "driver_heap": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "duckdb": duckdb.__version__,
    }


# per-layer metric -> how to read it from one traced operation's spans:
# ("self", span) sums the span's self time in s, ("each_ms", span) is
# the median self time in ms of the span's occurrences, ("count", span,
# key) a count the span recorded, ("ratio", span, key, span, key) a
# quotient of two counts, ("engine", key, scale) an engine counter summed
# over the spans of the operation itself (not of the replay after it).
# Names and units are those of BENCHMARK.json.
LAYERS = {
    "sources.read_s": ("self", "sources.read"),
    "sources.write_s": ("self", "sources.write"),
    "fused.self_s": ("self", "fused"),
    "fused.mentions": ("count", "fused", "mentions"),
    "fused.pairs": ("count", "fused", "pairs"),
    "scoring.self_s": ("self", "scoring"),
    "scoring.triples_per_pair": ("ratio", "scoring", "triples", "fused", "pairs"),
    "linking.self_s": ("self", "linking"),
    "graph.build_s": ("self", "graph.build"),
    "graph.edges": ("count", "graph.build", "edges"),
    "graph.pagerank_s": ("self", "graph.pagerank"),
    "model.score_s": ("self", "model.score"),
    "model.arrow_rows_out": ("count", "model.score", "arrow_rows_out"),
    "model.encode_doc_ms": ("count", "model.replay", "encode_doc_ms"),
    "model.encode_batch_ms": ("count", "model.replay", "encode_batch_ms"),
    "model.label_ffn_ms": ("count", "model.replay", "label_ffn_ms"),
    "model.score_doc_ms": ("count", "model.replay", "score_doc_ms"),
    "decode.self_s": ("self", "decode"),
    "corpus_dedup.plan_s": ("self", "corpus_dedup.plan"),
    "corpus_dedup.signature_s": ("self", "corpus_dedup.signature"),
    "corpus_dedup.candidates": ("count", "corpus_dedup.candidates", "candidates"),
    "corpus_dedup.max_bucket_docs": ("count", "corpus_dedup.candidates", "max_bucket_docs"),
    "corpus_dedup.verify_s": ("self", "corpus_dedup.verify"),
    "corpus_dedup.verified_per_candidate": (
        "ratio", "corpus_dedup.verify", "verified", "corpus_dedup.candidates", "candidates"),
    "corpus_dedup.allpairs_s": ("self", "corpus_dedup.allpairs"),
    "api.plan_ms": ("each_ms", "api.plan"),
    "api.exec_ms": ("each_ms", "api.exec"),
    "api.cached_relations": ("count", "api.request", "cached_relations"),
    "spark.jobs": ("engine", "jobs", 1),
    "spark.tasks": ("engine", "tasks", 1),
    "spark.shuffle_write_mb": ("engine", "shuffle_write_bytes", 1e-6),
    "spark.spill_mb": ("engine", "spill_bytes", 1e-6),
    "spark.gc_s": ("engine", "gc_ms", 1e-3),
}


def layer_values(tracer, workload: str) -> dict[str, float]:
    """Median over traced operations of each per-layer metric; 0 for a
    layer the workload does not run."""
    selfs = tracer.self_times()
    ops: dict[int, list[dict]] = {}
    for s in tracer.spans:
        ops.setdefault(s["pass"], []).append(s)

    def one(spans: list[dict], how: tuple) -> float:
        kind = how[0]
        if kind == "self":
            return sum(selfs[s["id"]] for s in spans if s["name"] == how[1])
        if kind == "each_ms":
            each = [selfs[s["id"]] * 1e3 for s in spans if s["name"] == how[1]]
            return median(each) if each else 0.0
        if kind == "count":
            return float(sum(s["counts"].get(how[2], 0) for s in spans if s["name"] == how[1]))
        if kind == "ratio":
            den = one(spans, ("count", how[3], how[4]))
            return one(spans, ("count", how[1], how[2])) / den if den else 0.0
        names = {s["id"]: s["name"] for s in spans}
        return sum(s["engine"][how[1]] for s in spans if names[s["root"]] == workload) * how[2]

    return {
        name: median([one(spans, how) for spans in ops.values()])
        for name, how in LAYERS.items()
    }


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from perfbench import inputs

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return run(args, WORKLOADS[args.workload], inputs.load_source(), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, workload_cls, src, work: Path) -> int:
    spark = start_spark(work)
    try:
        wl = workload_cls(src, work / "inputs", args.seed)
        head = header(spark, args)
        print("perfbench header " + json.dumps(head), flush=True)
        res = measure(spark, wl, args)
    finally:
        stop_spark(spark)

    # output checks run with Spark and its JVM gone, in parallel threads
    # (DuckDB releases the GIL); an operation fails if any of its
    # comparisons fails or raises
    def passes(comparison) -> bool:
        try:
            return comparison()
        except Exception:
            traceback.print_exc()
            return False

    owners, comparisons = [], []
    for i, done in enumerate(res["done"]):
        for c in wl.comparisons(*done):
            owners.append(i)
            comparisons.append(c)
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        ok = list(pool.map(passes, comparisons))
    failed = res["failed"] + len({i for i, good in zip(owners, ok) if not good})
    attempted = res["failed"] + len(res["done"])
    spec = json.loads(SPEC.read_text())
    if args.trace:
        tr_path = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        res["tracer"].write(tr_path, {"header": head})
        vals = layer_values(res["tracer"], wl.name)
        vals["trace.overhead_s"] = median(res["traced_s"]) - median(res["plain_s"])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        print(f"per-layer (median of {len(res['traced_s'])} traced ops;"
              f" spans in {tr_path.relative_to(ROOT)}; host CPU steal {res['steal_pct']:.1f}%)")
    else:
        p50 = median(res["plain_s"])
        vals = {
            "setup_s": res["setup_s"],
            "job_s.p50": p50,
            "docs_per_s": wl.docs_per_op / p50,
            "cache_mb": res["cache_mb"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        print(f"end-to-end ({len(res['plain_s'])} timed ops, {wl.docs_per_op} docs each;"
              f" op seconds {[round(x, 3) for x in res['plain_s']]};"
              f" host CPU steal {res['steal_pct']:.1f}%)")
    metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
    for k, v in metrics.items():
        print(f"  {k:40s} {v['value']:14.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def measure(spark, wl, args) -> dict:
    """Warm up, then run operations until ``--seconds`` have passed and
    the workload's minimum count is reached."""
    cpu0 = cpu_times()
    for op in range(-1, -1 - wl.warmup_ops, -1):
        wl.run(spark, wl.make_input(op))
    res = {
        "setup_s": time.perf_counter() - T_PROCESS, "plain_s": [], "traced_s": [],
        "done": [], "failed": 0, "cache_mb": None, "tracer": None,
    }
    sc = spark.sparkContext
    if args.trace:
        from perfbench.trace import Tracer

        res["tracer"] = tracer = Tracer(sc)
    # the traced run alternates untraced and traced operations, so its
    # first two operations are one of each
    t_loop = time.perf_counter()
    op = 0
    while time.perf_counter() - t_loop < args.seconds or op < wl.min_ops:
        op += 1
        inp = wl.make_input(op)
        traced = args.trace and op % 2 == 0
        try:
            t0 = time.perf_counter()
            if traced:
                tracer.pass_id = op
                with tracer.span(wl.name):
                    out = wl.run_traced(spark, inp, tracer)
                res["traced_s"].append(time.perf_counter() - t0)
                wl.replay(spark, tracer, inp, out)
            else:
                out = wl.run(spark, inp)
                res["plain_s"].append(time.perf_counter() - t0)
            res["done"].append((inp, out))
        except Exception:
            traceback.print_exc()
            res["failed"] += 1
        if op == wl.min_ops:
            res["cache_mb"] = cached(sc)
    res["steal_pct"] = steal_pct(cpu0, cpu_times())
    return res


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    preflight()
    sys.exit(main())
