#!/usr/bin/env python3
"""Benchmark of the kg pipeline (``plans.pipeline.run_pipeline``).

Usage, from the repository root:

    python3 perfbench/run.py --workload heavy-markup --seed 1 \
        --seconds 15 --trace 0

Set-up: size the Spark session from the host, generate the workload's
``src_pages`` table from the seed, start the session and warm it with an
untimed pipeline run.  Then run the fused two-pass pipeline (fresh
``work_dir``, ``resume=False``) back to back until ``--seconds`` are used:
a closed loop with one client.  Between runs the cached frames are dropped
and the idle python workers are ended, so no run inherits the
dictionaries an earlier run loaded.  Every run's triples are checked
(``checks.py``); a run that raises or fails its check counts all of its
pages as failed and gives no timing.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes one
untraced run, then one run on a session with the Spark event log on, and
times each layer from outside (``layers.py``), printing the per-layer
metrics.
The last stdout line is the result JSON; the full record (host
fingerprint, every run, layer shares) goes to
``.perfbench_run/results/`` and the traced run's spans to
``.perfbench_run/traces/``.  Generator self-checks: ``selfcheck.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
# workload names, metric names and units: one source, BENCHMARK.json
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")

# after the first run, start another only if it should end within
# OVERRUN x --seconds; HARD_CAP_S bounds a whole invocation on a slow host
OVERRUN = 1.15
HARD_CAP_S = 165.0


def log(msg: str) -> None:
    print("[perfbench %6.1fs] %s" % (time.perf_counter() - T_START, msg),
          file=sys.stderr, flush=True)


def parse_args(argv, spec):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_files(scratch: str) -> None:
    """Keep every file Spark, the JVM and python write inside
    ``scratch``, and let the python workers import the program."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it
    (and with it the python workers) to exit."""
    from pyspark import SparkContext

    from perfbench.hostinfo import wait_no_pyspark

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    # the JVM exits when its stdin closes (pyspark's launch contract)
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait(timeout=30)
    wait_no_pyspark()


def pipeline_run(spark, src_path: str, work_dir: str) -> dict:
    """One timed ``run_pipeline`` call, as bench.run_kg_pipeline makes it,
    with the python workers' summed RSS sampled throughout."""
    from perfbench.hostinfo import RssSampler
    from wikiprep_spark.plans.pipeline import run_pipeline

    with RssSampler() as rss:
        start = time.time()
        t0 = time.perf_counter()
        src = spark.read.parquet(src_path)
        result = run_pipeline(spark, src, work_dir=work_dir, resume=False,
                              fuse_parse=True)
        wall = time.perf_counter() - t0
    return {"result": result, "start": start, "wall": wall,
            "peak_rss_mb": rss.peak_mb, "rss_samples": rss.samples,
            "transformed": result["_counts"].get("transformed"),
            "triples": result["_counts"].get("triples"),
            "stages": result["_metrics"].stages}


def checked_run(spark, corpus, src_path: str, work_dir: str) -> dict:
    """Isolate from earlier runs, run the pipeline once and check its
    output.  Returns the run record; ``failed`` pages are all of them when
    the run raised or its output check failed, else the pages missing
    from the output accounting."""
    from perfbench import checks
    from perfbench.hostinfo import kill_idle_workers

    spark.catalog.clearCache()
    kill_idle_workers()
    rec = {"ok": False, "failed": corpus.n_pages}
    try:
        rec.update(pipeline_run(spark, src_path, work_dir))
        rec["mismatches"] = checks.check(
            corpus, os.path.join(work_dir, "triples"))
        missing = corpus.n_pages - (rec["transformed"] or 0)
        rec["ok"] = not rec["mismatches"] and missing == 0
        rec["failed"] = corpus.n_pages if rec["mismatches"] else missing
        if rec["mismatches"]:
            log("output check FAILED: %s" % rec["mismatches"])
    except Exception:
        rec["error"] = traceback.format_exc()
        log("pipeline run FAILED:\n" + rec["error"])
    return rec


def public(rec: dict) -> dict:
    return {k: v for k, v in rec.items() if k != "result"}


def warm_session(corpus, src_path: str, scratch: str, extra_conf=None):
    """A new session warmed by one checked, untimed run over ``corpus``
    (class loading, code generation and the JIT's first pass)."""
    from wikiprep_spark.plans.session import build_session

    spark = build_session(app_name="perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    work_dir = os.path.join(scratch, "warm")
    rec = checked_run(spark, corpus, src_path, work_dir)
    shutil.rmtree(work_dir, ignore_errors=True)
    if not rec["ok"]:
        raise RuntimeError("warm-up run failed")
    log("warm-up (%d pages): wall %.3fs" % (corpus.n_pages, rec["wall"]))
    return spark


def setup(args, scratch: str):
    """Session sizing, generation, materialization and warm-up; returns
    (corpus, src_path, host, spark)."""
    from perfbench import hostinfo, workloads

    sizing = hostinfo.size_session()
    host = hostinfo.fingerprint(ROOT, sizing)
    log("host %s" % json.dumps(host))
    corpus = workloads.generate(args.workload, args.seed)
    src_path = os.path.join(scratch, "src_pages")
    workloads.write_src(corpus.rows, src_path)
    spark = warm_session(corpus, src_path, scratch)
    return corpus, src_path, host, spark


def measure(args, spark, corpus, src_path: str, scratch: str) -> list:
    """Back-to-back pipeline runs for ``--seconds`` (closed loop)."""
    runs = []
    window0 = time.perf_counter()
    while True:
        work_dir = os.path.join(scratch, "work%d" % len(runs))
        it0 = time.perf_counter()
        rec = checked_run(spark, corpus, src_path, work_dir)
        shutil.rmtree(work_dir, ignore_errors=True)
        rec["run_s"] = time.perf_counter() - it0
        runs.append(public(rec))
        log("run %d: wall %.3fs ok=%s peak_rss %.0fMB"
            % (len(runs), rec.get("wall", float("nan")), rec["ok"],
               rec.get("peak_rss_mb", 0)))
        now = time.perf_counter()
        est = statistics.median(r["run_s"] for r in runs)
        if (now - window0 + est > args.seconds * OVERRUN
                or now - T_START + est > HARD_CAP_S):
            return runs


def end_to_end(runs: list, setup_s: float) -> dict:
    good = [r for r in runs if r["ok"]]
    if not good:
        return {}
    return {
        "kg_wall_s": statistics.median(r["wall"] for r in good),
        "pages_per_s": statistics.median(r["transformed"] / r["wall"]
                                         for r in good),
        "peak_worker_rss_mb": statistics.median(r["peak_rss_mb"]
                                                for r in good),
        "setup_s": setup_s,
    }


def traced(args, spark, corpus, src_path: str, scratch: str, host: dict,
           run_id: str) -> tuple:
    """One untraced run on the warm session, then a second session with
    the Spark event log on: warm it, make the traced run, and run the
    layer probes.  Returns (runs, per-layer metrics, layer shares)."""
    from perfbench import layers, workloads

    spans = layers.Spans(run_id)
    now = time.time()
    root = spans.add("run", now - (time.perf_counter() - T_START), None)
    spans.add("setup", spans.spans[root]["start"], now, root)
    with spans.span("untraced.pipeline", root):
        rec = checked_run(spark, corpus, src_path,
                          os.path.join(scratch, "work_u"))
    shutil.rmtree(os.path.join(scratch, "work_u"), ignore_errors=True)
    spark.stop()
    runs = [public(rec)]

    ev_dir = os.path.join(scratch, "eventlog")
    os.makedirs(ev_dir, exist_ok=True)
    conf = {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.compress": "false"}
    # the JVM is warm by now: a run over a small instance of the workload
    # warms the new session itself
    small = workloads.generate(args.workload, 0, small=True)
    small_src = os.path.join(scratch, "src_small")
    workloads.write_src(small.rows, small_src)
    with spans.span("traced.setup", root):
        spark = warm_session(small, small_src, scratch, conf)
    work_dir = os.path.join(scratch, "work_t")
    probes = os.path.join(scratch, "probes")
    try:
        t_rec = checked_run(spark, corpus, src_path, work_dir)
        runs.append(public(t_rec))
        if not t_rec["ok"]:
            return runs, {}, {}
        pid = spans.add("traced.pipeline", t_rec["start"],
                        t_rec["start"] + t_rec["wall"], root,
                        pages=t_rec["transformed"], triples=t_rec["triples"])
        m = layers.stage_spans(spans, pid, t_rec["start"], t_rec["wall"],
                               t_rec["stages"])
        # edges first: like the pipeline's triples stage, it reads the
        # title aggregate the pipeline left cached
        with spans.span("operators.edges", root) as s:
            m.update(layers.probe_edges(
                spark, t_rec["result"], work_dir,
                os.path.join(probes, "triples"), t_rec["transformed"]))
            s["counts"]["triples"] = m["edges.triples"]
        # the prescan probe builds the same plans the pipeline cached;
        # drop those caches so it measures the work, not a cache hit
        spark.catalog.clearCache()
        with spans.span("sources.pages", root) as s:
            m.update(layers.probe_parse(spark, src_path))
            s["counts"]["rows"] = m["pages.rows"]
        with spans.span("operators.prescan", root) as s:
            m.update(layers.probe_prescan(spark, src_path,
                                          os.path.join(probes, "dicts")))
            s["counts"]["dict_rows"] = m["prescan.dict_rows"]
    finally:
        spark.stop()
    dicts_path = t_rec["result"]["_dicts_path"]
    with spans.span("functions.dictload", root):
        m.update(layers.probe_dictload(dicts_path, dict(os.environ)))
    with spans.span("functions.page", root) as s:
        m.update(layers.replay_kernel(corpus.rows, dicts_path, args.seed,
                                      layers.KERNEL_SAMPLE[args.workload]))
        s["counts"]["pages"] = m.pop("_kernel_sample")
    m.update(layers.event_log_metrics(
        ev_dir, t_rec["start"], t_rec["start"] + t_rec["wall"],
        host["slots"]))
    pages = t_rec["transformed"]
    m["transform.rows"] = pages
    m["transform.kernel_floor_s"] = (
        m["kernel.ms_per_page"] / 1000 * pages / host["slots"])
    m["transform.boundary_s"] = (
        m["pipeline.transform_s"] - m["transform.kernel_floor_s"])
    if rec["ok"]:
        m["trace.overhead_s"] = t_rec["wall"] - rec["wall"]
    spans.spans[root]["end"] = time.time()
    os.makedirs(os.path.join(RUN_ROOT, "traces"), exist_ok=True)
    spans.dump(os.path.join(RUN_ROOT, "traces", run_id + ".json"))
    return runs, m, layers.layer_shares(m, t_rec["wall"])


def main(argv=None) -> int:
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    args = parse_args(argv, spec)
    if not os.path.isdir(os.path.join(ROOT, "wikiprep_spark")):
        print("perfbench: no wikiprep_spark package under %s" % ROOT,
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = "%s-seed%d-trace%d-%d" % (args.workload, args.seed, args.trace,
                                       os.getpid())
    scratch = os.path.join(RUN_ROOT, "scratch", run_id)
    confine_files(scratch)
    try:
        corpus, src_path, host, spark = setup(args, scratch)
        setup_s = time.perf_counter() - T_START
        log("setup %.2fs, %d pages" % (setup_s, corpus.n_pages))
        if args.trace:
            runs, layer_m, shares = traced(args, spark, corpus, src_path,
                                           scratch, host, run_id)
        else:
            runs = measure(args, spark, corpus, src_path, scratch)
            layer_m, shares = {}, {}
    finally:
        shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = corpus.n_pages * len(runs)
    failed = sum(r["failed"] for r in runs)
    correct = failed == 0 and all(r["ok"] for r in runs)
    if args.trace:
        layer_m["run.failed_page_share"] = failed / attempted
        values = layer_m
    else:
        values = end_to_end(runs, setup_s)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    correct = correct and len(metrics) == len(wanted)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds,
              "run_id": run_id, "host": host, "pages": corpus.n_pages,
              "page_bytes": corpus.n_bytes, "setup_s": setup_s,
              "runs": runs, "layer_shares": shares,
              "correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(RUN_ROOT, "results"), exist_ok=True)
    with open(os.path.join(RUN_ROOT, "results", run_id + ".json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if shares:
        log("layer shares of kg_wall_s: %s" % json.dumps(shares))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
