"""End-to-end pipeline orchestration with checkpoint/resume and metrics.

Stage graph (SURVEY.md §7.1):

  src_pages ─ stage0 parse ─┬─ prescan aggregations ─ broadcast dicts ─┐
                            └──────────────── transform (mapInPandas) ┴─ edges/triples

Each materialized stage writes a parquet table under ``work_dir`` (the
Iceberg-table stand-in in this environment — swap the writer for
``writeTo(...).createOrReplace()`` on a cluster with an Iceberg catalog).
A completed stage is detected by Spark's ``_SUCCESS`` marker, so a killed
run resumes from the last finished stage without recomputing earlier ones;
within a stage, Spark's task retry handles partial work.  Per-stage metrics
(rows, seconds) and per-partition lineage (row counts, sha256 checksums of
the input contents) land in ``work_dir/metrics`` and ``work_dir/lineage``.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from wikiprep_spark.operators import edges as edge_ops
from wikiprep_spark.operators import prescan as prescan_ops
from wikiprep_spark.operators.transform import (
    transform_pages,
    transform_src_pages,
)
from wikiprep_spark.sources.pages import parse_pages, parse_pages_prescan

EDGE_BUILDERS = {
    "anchors": edge_ops.anchors_edges,
    "links": edge_ops.links_edges,
    "categories": edge_ops.categories_edges,
    "related": edge_ops.related_edges,
    "interwiki": edge_ops.interwiki_edges,
    "external": edge_ops.external_edges,
    "bare_urls": edge_ops.bare_urls_edges,
    "disambig": edge_ops.disambig_edges,
    "template_inclusions": edge_ops.template_inclusion_edges,
    "pages": edge_ops.pages_table,
}


class Metrics:
    def __init__(self):
        self.stages = []

    def record(self, stage: str, seconds: float, rows: int | None = None,
               **extra):
        entry = {"stage": stage, "seconds": round(seconds, 3), "rows": rows}
        entry.update(extra)
        self.stages.append(entry)

    def save(self, path: str):
        with open(path, "w") as fh:
            for entry in self.stages:
                fh.write(json.dumps(entry) + "\n")


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write(df: DataFrame, path: str, partition_by=None) -> int | None:
    """Write parquet; the row count rides along on the write job via the
    Observation API (a separate .count() would re-scan the written data —
    measured as a material serial tail in scaling runs)."""
    from pyspark.sql import Observation

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    try:
        return obs.get["rows"]
    except Exception:
        return None


def lineage_src_df(src_pages: DataFrame) -> DataFrame:
    """Input-side lineage for the fused (two-pass) mode: the same
    per-partition (rows, crc-of-sha256, raw record chars) triple computed
    entirely JVM-side from the source table.  Cross-mode comparable with
    lineage_df on every field, including malformed records: the parse
    stage emits content_sha256 = sha256(raw record) even on parse errors
    and carries record_chars = length(content)."""
    return (
        src_pages.select(
            F.spark_partition_id().alias("partition_id"),
            F.crc32(F.sha2("content", 256)).alias("crc"),
            F.length("content").alias("record_chars"),
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum("crc").alias("content_checksum"),
            F.sum("record_chars").alias("byte_count"),
        )
    )


def lineage_df(parsed: DataFrame) -> DataFrame:
    """Per-input-partition lineage: row count plus an order-insensitive
    checksum over the content sha256 values (verifies the per-row content
    invariant survives every re-run / resume).  byte_count sums the raw
    record sizes (record_chars), matching lineage_src_df exactly.  Reads
    only the sha/length columns so the lineage pass never re-decodes page
    text."""
    return (
        parsed.select(
            F.spark_partition_id().alias("partition_id"),
            F.crc32(F.col("content_sha256")).alias("crc"),
            F.col("record_chars"),
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum("crc").alias("content_checksum"),
            F.sum("record_chars").alias("byte_count"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    src_pages: DataFrame,
    work_dir: str | None = None,
    resume: bool = True,
    persist: bool = True,
    dict_mode: str = "inmem",
    fuse_parse: bool = False,
) -> dict:
    """Run the full src_pages -> triples pipeline.

    ``fuse_parse=True`` (work_dir mode) adopts the reference's own two-pass
    architecture (bin/wikiprep prescan pass + transform pass over the same
    dump): the XML parse is NOT materialized to parquet — pass 1 parses in
    flight and aggregates the dictionaries; pass 2 is ONE mapInPandas per
    source record (transform_src_pages) that re-parses, drops parse errors
    and duplicate-id losers (carried in by a broadcast join against the
    JVM-side loser set) and runs the markup kernel.  Each transform task
    thus keeps one python worker hot, and the session gives every core a
    task slot (plans/session.py).  Re-parsing costs a small fraction of the
    kernel and removes an entire columnar encode+decode round trip of the
    full text, which is the right trade at scale.

    Returns a dict of DataFrames: parsed, transformed, every edge table,
    redirect_records, template_index, triples, plus the collected metrics
    object under key "_metrics".
    """
    metrics = Metrics()
    out: dict = {}
    counts: dict = {}

    # --- stage 0: parse
    t0 = time.time()
    if work_dir and not fuse_parse:
        parsed_path = os.path.join(work_dir, "parsed_pages")
        if not (resume and _stage_done(parsed_path)):
            counts["parsed"] = _write(parse_pages(src_pages), parsed_path)
        parsed = spark.read.parquet(parsed_path)
    else:
        parsed = parse_pages(src_pages)
        if persist and not fuse_parse:
            parsed = parsed.persist()
    metrics.record("parse", time.time() - t0)

    # --- stage 1: prescan — one title-keyed aggregation for all three
    # dictionaries; id-dedup is a broadcast anti join (no full-data shuffle)
    t0 = time.time()
    if fuse_parse:
        # JVM-only dup-id scan of the source, cached: without this, the
        # anti-join's subquery re-runs the python parse inside EVERY job
        # that consumes live_pages (measured as a full extra parse pass
        # in both the prescan and transform jobs)
        losers = prescan_ops.dup_losers_from_src(src_pages).persist()
        # the dictionary aggregation reads text only for template pages —
        # parse with the prescan projection so the pass doesn't Arrow-ship
        # every page's full text back to the JVM
        live_pre = prescan_ops.live_pages(
            parse_pages_prescan(src_pages), losers
        )
    else:
        live = prescan_ops.live_pages(parsed)
        live_pre = live
    agg = prescan_ops.title_aggregate(live_pre)
    if persist:
        # the dictionary branches and the collect job share this aggregate;
        # Spark does no cross-branch CSE, so cache it once (skinny rows —
        # only template candidates carry text).  Materialize it NOW: if the
        # union branches of write_dicts race a cold cache inside one job,
        # each branch recomputes the full parse upstream (measured 4x
        # prescan blowup on a 4-executor cluster before this count)
        agg = agg.persist()
        agg.count()
    title2id = prescan_ops.title2id_df(agg)
    redirects = prescan_ops.redirects_df(agg)
    template_pages = prescan_ops.template_pages_df(agg)
    template_bodies = prescan_ops.template_bodies_df(template_pages)
    template_index = template_pages.select(
        F.col("page_id").alias("template_id"),
        F.col("title_norm").alias("title"),
    )

    # --- stage 2: persist the dictionaries as a shared tagged parquet
    # table (prescanSave equivalent; distributed write, no driver
    # roundtrip) — transform workers side-load it once per process
    # dict_mode "inmem": every worker materializes the full dictionaries
    # (fastest; right up to ~10^7 titles).  "pruned": workers binary-search
    # hash-sorted parquet row groups with bounded memory (the SURVEY.md §4
    # big-dict scale path for when title2id outgrows worker memory).
    writer = (prescan_ops.write_dicts_pruned if dict_mode == "pruned"
              else prescan_ops.write_dicts)
    n_dict_rows = None
    if work_dir:
        dicts_path = os.path.join(work_dir, "dicts_" + dict_mode)
        # pruned mode writes three sub-tables (title2id, redir, templates);
        # the stage only counts as finished when ALL of them carry a
        # _SUCCESS marker — gating on the first-written one would let a
        # crash between sub-writes masquerade as a completed stage
        if dict_mode == "pruned":
            dicts_done = all(
                _stage_done(os.path.join(dicts_path, sub))
                for sub in ("title2id", "redir", "templates")
            )
        else:
            dicts_done = _stage_done(dicts_path)
        if not (resume and dicts_done):
            n_dict_rows = writer(title2id, redirects, template_bodies,
                                 dicts_path)
    else:
        dicts_path = tempfile.mkdtemp(prefix="wikiprep_dicts_")
        n_dict_rows = writer(title2id, redirects, template_bodies,
                             dicts_path)
    metrics.record("prescan", time.time() - t0, dict_rows=n_dict_rows)

    # --- lineage, overlapped: it reads only src_pages/parsed — fully
    # independent of the transform/triples chain — so submit its write
    # from a driver thread NOW and join before returning (guide §2.6:
    # concurrent jobs back-fill task slots freed by the running stage's
    # tail instead of serializing ~1.5s of pure JVM hashing at the end)
    lineage_thread = None
    lineage_err: list = []
    if work_dir:
        lineage_path = os.path.join(work_dir, "lineage")
        if not (resume and _stage_done(lineage_path)):
            import threading

            lin = (lineage_src_df(src_pages) if fuse_parse
                   else lineage_df(parsed))

            def _lineage_job():
                # FIFO pools give the EARLIER job priority, so submit
                # after the transform job is in flight — its tasks then
                # back-fill slots freed by the transform stage's tail
                # instead of preempting its first wave
                time.sleep(1.5)
                try:
                    spark.sparkContext.setJobDescription("lineage")
                    _write(lin, lineage_path)
                except BaseException as exc:  # surfaced at join below
                    lineage_err.append(exc)

            lineage_thread = threading.Thread(
                target=_lineage_job, daemon=True)
            lineage_thread.start()

    # the lineage writer is joined on every exit: an exception in the
    # transform or triples stage must not leave it writing into work_dir
    finished = False
    try:
        # --- stage 3: transform
        t0 = time.time()
        if fuse_parse:
            # parse, dup-id drop and kernel in ONE mapInPandas per record
            transformed = transform_src_pages(src_pages, losers, dicts_path)
        else:
            transformed = transform_pages(live, dicts_path)
        if work_dir:
            transformed_path = os.path.join(work_dir, "transformed_pages")
            if not (resume and _stage_done(transformed_path)):
                counts["transformed"] = _write(transformed, transformed_path)
            transformed = spark.read.parquet(transformed_path)
        elif persist:
            transformed = transformed.persist()
        metrics.record("transform", time.time() - t0)

        # --- stages 4/5: edge tables (lazy projections of the wide table)
        for name, builder in EDGE_BUILDERS.items():
            out[name] = builder(transformed)

        # redirect records: distributed output join against the cached
        # title aggregate (Output/Composite.pm:83-125); both dimension
        # sides broadcast
        redirect_records, template_redirects = (
            prescan_ops.redirect_records_df(
                redirects, title2id, template_bodies))
        out["redirect_records"] = redirect_records
        out["template_redirects"] = template_redirects
        out["template_index"] = template_index

        # single-scan triple derivation (edge tables above remain available
        # as pruned per-kind projections; triples_view is the 8-pass
        # equivalent)
        out["triples"] = edge_ops.triples_from_transformed(
            transformed, redirect_records
        )

        if work_dir:
            t0 = time.time()
            triples_path = os.path.join(work_dir, "triples")
            if not (resume and _stage_done(triples_path)):
                # partitioned by predicate: partition pruning for per-edge
                # reads
                counts["triples"] = _write(out["triples"], triples_path,
                                           partition_by="pred")
            out["triples"] = spark.read.parquet(triples_path)
            metrics.record("triples", time.time() - t0)
        finished = True
    finally:
        if lineage_thread is not None:
            lineage_thread.join()
            # a lineage failure surfaces unless another error is already
            # propagating (that one is the cause worth reporting)
            if lineage_err and finished:
                raise lineage_err[0]
    if work_dir:
        metrics.save(os.path.join(work_dir, "metrics.jsonl"))

    out["parsed"] = parsed
    out["transformed"] = transformed
    out["title2id"] = title2id
    out["redirects_raw"] = redirects
    out["template_bodies"] = template_bodies
    out["_metrics"] = metrics
    out["_dicts_path"] = dicts_path
    # observed row counts from the write jobs (None for resumed stages);
    # callers should prefer these over re-scanning with .count()
    out["_counts"] = counts
    return out
