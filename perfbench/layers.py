"""The traced run: per-layer numbers measured from outside the program.

Every probe calls a layer's public functions from the benchmark process
and times the call; nothing inside ``wikiprep_spark`` is instrumented.
Spans (name, start, end, parent, run id) are kept in memory and written
as one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import random
import statistics
import subprocess
import sys
import time

MB = 1024 * 1024

# kernel replay sample size per workload: a few seconds of work at most
KERNEL_SAMPLE = {"heavy-markup": 250, "redirect-heavy": 10000}


class Spans:
    """In-memory spans of one run; ``span`` nests through ``parent``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []

    def add(self, name, start, end, parent=None, derived=False,
            **counts) -> int:
        """A span; ``derived`` marks one placed from a recorded duration
        rather than timed around the call."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           "run_id": self.run_id, "derived": derived,
                           "counts": counts})
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name, parent=None):
        rec = self.spans[self.add(name, time.time(), None, parent)]
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh,
                      indent=1)


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files)
    return total / MB


def stage_spans(spans: Spans, parent: int, start: float, wall: float,
                stages: list) -> dict:
    """Child spans for ``run_pipeline``'s recorded stage walls, laid end to
    end from the call (the stages run sequentially; only their durations
    are recorded), plus the stage metrics of the ``pipeline`` layer."""
    secs = {s["stage"]: s["seconds"] for s in stages}
    # the fused parse stage only builds a lazy plan; its time is pass 1's
    prescan = secs.get("parse", 0.0) + secs.get("prescan", 0.0)
    t = start
    for name, dur in (("prescan", prescan),
                      ("transform", secs.get("transform", 0.0)),
                      ("triples", secs.get("triples", 0.0))):
        spans.add("pipeline." + name, t, t + dur, parent, derived=True)
        t += dur
    unattributed = wall - (t - start)
    spans.add("pipeline.unattributed", t, start + wall, parent, derived=True)
    return {
        "pipeline.prescan_s": prescan,
        "pipeline.transform_s": secs.get("transform", 0.0),
        "pipeline.triples_s": secs.get("triples", 0.0),
        "pipeline.unattributed_s": unattributed,
    }


def probe_parse(spark, src_path: str) -> dict:
    """``sources.pages.parse_pages_prescan`` into a noop sink."""
    from pyspark.sql import Observation, functions as F

    from wikiprep_spark.sources.pages import parse_pages_prescan

    obs = Observation()
    parsed = parse_pages_prescan(spark.read.parquet(src_path)).observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.count("parse_error").alias("errors"))
    t0 = time.perf_counter()
    parsed.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    rows, errors = obs.get["rows"], obs.get["errors"]
    return {"pages.parse_s": dt,
            "pages.parse_us_per_page": dt / max(rows, 1) * 1e6,
            "pages.rows": rows, "pages.parse_errors": errors}


def probe_prescan(spark, src_path: str, out_dir: str) -> dict:
    """``operators.prescan``: the dup-id scan and title aggregation over an
    already-parsed (cached, untimed) input, then the dictionary write."""
    from wikiprep_spark.operators import prescan as ops
    from wikiprep_spark.sources.pages import parse_pages_prescan

    src = spark.read.parquet(src_path)
    parsed = parse_pages_prescan(src).persist()
    parsed.count()
    t0 = time.perf_counter()
    losers = ops.dup_losers_from_src(src).persist()
    losers.count()
    agg = ops.title_aggregate(ops.live_pages(parsed, losers)).persist()
    agg.count()
    aggregate_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    rows = ops.write_dicts(
        ops.title2id_df(agg), ops.redirects_df(agg),
        ops.template_bodies_df(ops.template_pages_df(agg)), out_dir)
    write_s = time.perf_counter() - t0
    for df in (agg, losers, parsed):
        df.unpersist()
    return {"prescan.aggregate_s": aggregate_s,
            "prescan.dict_write_s": write_s,
            "prescan.dict_rows": rows, "prescan.dict_mb": du_mb(out_dir)}


def probe_edges(spark, result: dict, work_dir: str, out_dir: str,
                pages: int) -> dict:
    """``operators.edges``: triple derivation plus the partitioned write,
    re-run on the pipeline's saved transformed table."""
    from pyspark.sql import Observation, functions as F

    from wikiprep_spark.operators.edges import triples_from_transformed

    transformed = spark.read.parquet(
        os.path.join(work_dir, "transformed_pages"))
    obs = Observation()
    triples = triples_from_transformed(
        transformed, result["redirect_records"]).observe(
        obs, F.count(F.lit(1)).alias("rows"))
    t0 = time.perf_counter()
    triples.write.mode("overwrite").partitionBy("pred").parquet(out_dir)
    dt = time.perf_counter() - t0
    n = obs.get["rows"]
    return {"edges.triples": n, "edges.triples_per_page": n / max(pages, 1),
            "edges.derive_write_s": dt, "edges.out_mb": du_mb(out_dir)}


_DICTLOAD_CHILD = r"""
import json, os, sys, time
def rss_mb():
    with open("/proc/self/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
from wikiprep_spark.functions import dictload
import pyarrow.parquet  # its import is not part of the load
before = rss_mb()
t0 = time.perf_counter()
t2i, red, bodies = dictload.load_env_from_parquet(sys.argv[1])
dt = time.perf_counter() - t0
print(json.dumps({"load_s": dt, "rss_mb": rss_mb() - before,
                  "entries": len(t2i) + len(red) + len(bodies)}))
"""


def probe_dictload(dicts_path: str, env: dict) -> dict:
    """``functions.dictload.load_env_from_parquet`` in a fresh python
    process, as a python worker meets it: load time and the RSS it adds."""
    out = subprocess.run(
        [sys.executable, "-c", _DICTLOAD_CHILD, dicts_path], env=env,
        capture_output=True, text=True, timeout=120, check=True)
    r = json.loads(out.stdout.strip().splitlines()[-1])
    return {"dictload.load_s": r["load_s"], "dictload.rss_mb": r["rss_mb"]}


# (module, attribute) of each kernel phase transform_one calls
KERNEL_PHASES = {
    "templates": ("wikiprep_spark.functions.page", "include_templates"),
    "links": ("wikiprep_spark.functions.page", "extract_wiki_links"),
    "urls": ("wikiprep_spark.functions.urls", "extract_urls"),
    "postprocess": ("wikiprep_spark.functions.page", "postprocess_text"),
    "related": ("wikiprep_spark.functions.page",
                "identify_related_articles"),
}


def replay_kernel(rows, dicts_path: str, seed: int, k: int) -> dict:
    """Single-process ``transform_one`` over a seeded sample of the
    corpus, against the run's own dictionaries, with each phase function
    wrapped by a timer.  ``transform_one`` calls the phases through those
    module attributes, so only its own top-level calls are timed (phases
    that nest, like the link extraction inside ``related``, count once)."""
    import importlib

    from wikiprep_spark.functions import dictload
    from wikiprep_spark.functions.page import TransformEnv, transform_one
    from wikiprep_spark.sources.mediawiki_xml import parse_page_record

    t2i, red, bodies = dictload.load_env_from_parquet(dicts_path)
    env = TransformEnv(title2id=t2i, redir=red, templates=bodies)
    idx = sorted(random.Random("%d:kernel" % seed).sample(
        range(len(rows)), min(k, len(rows))))
    pages = []
    for i in idx:
        rec = parse_page_record(rows[i][4])
        pages.append({"id": rec["id"], "title": rec["title"],
                      "text": rec["text"], "timestamp": rec["timestamp"]})

    acc = dict.fromkeys(KERNEL_PHASES, 0.0)
    originals = {}

    def timed(phase, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                acc[phase] += time.perf_counter() - t0
        return wrapper

    for phase, (mod, attr) in KERNEL_PHASES.items():
        m = importlib.import_module(mod)
        originals[(mod, attr)] = getattr(m, attr)
        setattr(m, attr, timed(phase, getattr(m, attr)))
    def replay(batch):
        times, errors = [], 0
        for p in batch:
            t0 = time.perf_counter()
            try:
                transform_one(p, env)
            except Exception:
                errors += 1
            times.append(time.perf_counter() - t0)
        return times, errors

    try:
        # an untimed pass loads lazy module state; its pages are replayed
        # (and their errors counted) in the timed pass
        replay(pages[:20])
        acc.update(dict.fromkeys(acc, 0.0))
        totals, errors = replay(pages)
    finally:
        for (mod, attr), fn in originals.items():
            setattr(importlib.import_module(mod), attr, fn)
    n = len(totals)
    ms = {phase: t / n * 1000 for phase, t in acc.items()}
    per_page = sum(totals) / n * 1000
    return {
        "kernel.ms_per_page": per_page,
        "kernel.p99_page_ms": statistics.quantiles(
            totals, n=100)[98] * 1000 if n >= 2 else per_page,
        "kernel.templates_ms": ms["templates"],
        "kernel.links_ms": ms["links"],
        "kernel.urls_ms": ms["urls"],
        "kernel.postprocess_ms": ms["postprocess"],
        "kernel.related_ms": ms["related"],
        "kernel.other_ms": per_page - sum(ms.values()),
        "kernel.errors": errors,
        "_kernel_sample": n,
    }


def event_log_metrics(log_dir: str, t0: float, t1: float,
                      slots: int) -> dict:
    """Task metrics of the Spark event log for tasks launched in the
    wall-clock window [t0, t1] (seconds since the epoch)."""
    lo, hi = t0 * 1000, t1 * 1000
    n = failures = 0
    run_ms = gc_ms = busy_ms = 0
    cpu_ns = shuffle_b = spill_b = 0
    # Spark 4 rolls the log: eventlog_v2_<app>/events_<n>_<app> files
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"),
                                  recursive=True) if os.path.isfile(p)]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev["Task Info"]
                if not lo <= info["Launch Time"] <= hi:
                    continue
                n += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    failures += 1
                busy_ms += info["Finish Time"] - info["Launch Time"]
                tm = ev.get("Task Metrics") or {}
                run_ms += tm.get("Executor Run Time", 0)
                cpu_ns += tm.get("Executor CPU Time", 0)
                gc_ms += tm.get("JVM GC Time", 0)
                shuffle_b += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                spill_b += (tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0))
    return {
        "spark.tasks": n,
        "spark.task_failures": failures,
        "spark.executor_run_s": run_ms / 1000,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1000,
        "spark.shuffle_write_mb": shuffle_b / MB,
        "spark.spill_mb": spill_b / MB,
        "spark.slot_busy_share": busy_ms / (slots * (hi - lo)),
    }


def layer_shares(m: dict, wall: float) -> dict:
    """The traced ``kg_wall_s`` split into disjoint layer shares that sum
    to 1: pass 1 (parse + prescan), per-worker dictionary load, the kernel
    floor, the rest of the transform stage (re-parse and the Arrow
    boundary), triple derivation + write, and the unattributed tail."""
    parts = {
        "parse+prescan": m["pipeline.prescan_s"],
        "dictload": m["dictload.load_s"],
        "kernel_floor": m["transform.kernel_floor_s"],
        "boundary": m["transform.boundary_s"] - m["dictload.load_s"],
        "edges": m["pipeline.triples_s"],
        "unattributed": m["pipeline.unattributed_s"],
    }
    return {k: round(v / wall, 4) for k, v in parts.items()}
