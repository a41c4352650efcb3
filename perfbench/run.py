"""Near-dedupe benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. One process at ``local[<cores>]`` submits one
operation (a whole batch job, or a whole sequence of increments), waits for
it, checks its output, and submits the next until ``--seconds`` have
passed. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
traced operation and then one untraced, and prints the per-layer metrics of
the traced one.
The last stdout line is the result object; the line before it records the
environment, the sample counts and the per-operation figures.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = {
    # name: (corpus kind, docs)
    "crawl_batch": ("crawl", 10_000),
    "dense_dupes": ("dense", 20_000),
    "crawl_increments": ("crawl", 10_000),
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no MemTotal in /proc/meminfo")


def source_version() -> str:
    """The git commit of this checkout, or a hash of the program's sources
    when the checkout is not a git work tree of its own."""
    try:
        top, sha = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, check=True, timeout=30,
        ).stdout.split()
        if os.path.realpath(top) == os.path.realpath(ROOT):
            return sha
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "cpp_near_dedupe_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:16]


def pin_environment(run_dir: str) -> dict:
    """Process-wide settings that must precede the JVM launch; every path
    the program or Spark writes lands under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the session defaults to a 16g heap; a quarter of the box (at most 4g)
    # holds these corpora with room left for the Python workers
    heap_gb = max(1, min(4, int(mem_total_mb() / 1024 / 4)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # workers import the program, and this directory when run.py is imported
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _warm(batches):
    # forces every Python worker to start and import the kernels' modules
    import cpp_near_dedupe_spark.functions  # noqa: F401

    yield from batches


def start_session(n_cores: int, conf: dict):
    from cpp_near_dedupe_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{n_cores}]", extra_conf=conf)
    t1 = time.perf_counter()
    (
        spark.range(0, n_cores * 10, 1, n_cores)
        .mapInPandas(_warm, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # report-only: the gated runs use every core
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)
    t_start = time.perf_counter()

    kind, n_docs = WORKLOADS[args.workload]
    n_cores = args.cores or cores()
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "run", run_id)
    os.makedirs(run_dir)
    try:
        conf = pin_environment(run_dir)
        import workloads
        from corpus import Corpus
        from spans import PeakRss

        corpus = Corpus(os.path.join(WORK, "cache"), kind, n_docs, args.seed)
        rss = PeakRss()
        spark = None
        try:
            # the set-up a CLI user pays: JVM launch, session, Python workers
            spark, start_s, warm_s = start_session(n_cores, conf)
            wl = workloads.make(args.workload, spark, corpus, run_dir)
            if args.trace:
                result = wl.trace(run_id)
            else:
                result = wl.timed(args.seconds)
        finally:
            if spark is not None:
                stop_jvm(spark)
            peak_rss = rss.close()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    session = {
        "session.start_s": start_s,
        "session.warmup_s": warm_s,
        "session.peak_rss_mb": peak_rss,
    }
    if args.trace:
        metrics = dict(result["metrics"], **session)
        units = workloads.per_layer_units()
        if set(metrics) != set(units):
            raise RuntimeError(f"per-layer metrics differ: {sorted(set(metrics) ^ set(units))}")
    else:
        metrics = dict(result["metrics"], setup_s=start_s + warm_s)
        result["info"]["samples"]["setup_s"] = 1
        units = workloads.END_TO_END_UNITS
    info = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "docs": n_docs,
        "cores": n_cores,
        "mem_total_mb": mem_total_mb(),
        "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "source": source_version(),
        "corpus_gen_s": corpus.gen_s,
        "oracle_s": corpus.oracle_s,
        "peak_rss_mb": peak_rss,
        "failures": result["failures"],
        **result["info"],
        "run_s": time.perf_counter() - t_start,
    }
    out = {
        "correct": not result["failures"] and result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as f:
        json.dump({"info": info, "result": out, "spans": result.get("spans")}, f, indent=1)
    print(json.dumps(info))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
