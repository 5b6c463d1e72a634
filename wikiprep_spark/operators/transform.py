"""Distributed per-page transform (pipeline pass 2).

One Arrow-batched mapInPandas per page: each row runs the full transformOne
chain (functions/page.py) against the prescan dictionaries and emits a wide
row carrying the rewritten text plus every extracted collection as nested
arrays.  Edge tables are exploded from this table in operators/edges.py —
the expensive markup work happens exactly once per page.

Two entry points share one per-batch kernel loop (_transform_records) and
one dictionary loader (_load_env): transform_pages reads an already-parsed
page table; transform_src_pages reads src_pages records and parses them in
the same python pass, so a page's text crosses the Arrow boundary once on
the way in.
"""

from __future__ import annotations

import os
from operator import itemgetter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from wikiprep_spark.functions.edges import (
    disambig_rows,
    template_inclusion_rows,
)
from wikiprep_spark.functions.page import TransformEnv, transform_one
from wikiprep_spark.sources.pages import PARSED_COLUMNS, _parse_rows

TRANSFORMED_SCHEMA = (
    "page_id long, title string, ns string, timestamp string, status string, "
    "org_length long, new_length long, "
    "is_stub int, is_disambig int, is_category int, is_image int, "
    "text string, "
    "anchors array<struct<target_id:bigint, loc:bigint, anchor:string>>, "
    "categories array<bigint>, "
    "interwiki array<struct<iw_ns:string, iw_title:string>>, "
    "external array<struct<url:string, anchor:string>>, "
    "bare_urls array<string>, "
    "related array<bigint>, "
    "disambig array<struct<line_no:int, pos:int, target_id:bigint, anchor:string>>, "
    "template_incl array<struct<template_id:bigint, incl_idx:int, param:string, value:string>>, "
    "content_sha256 string"
)

_COLUMNS = [
    "page_id", "title", "ns", "timestamp", "status", "org_length",
    "new_length", "is_stub", "is_disambig", "is_category", "is_image",
    "text", "anchors", "categories", "interwiki", "external", "bare_urls",
    "related", "disambig", "template_incl", "content_sha256",
]


_INPUT_COLUMNS = [
    "page_id", "title", "title_norm", "ns", "timestamp", "text",
    "content_sha256", "redirect_target", "parse_error",
]


def _row_from_page(src, page) -> tuple:
    if "text" not in page:
        status = "redirect" if src["redirect_target"] is not None else "skipped"
        return (
            src["page_id"], src["title_norm"], src["ns"], src["timestamp"],
            status, page["orgLength"], None, None, None, None, None,
            None, None, None, None, None, None, None, None, None,
            src["content_sha256"],
        )
    anchors = [
        (a.get("targetId"), a["linkLocation"], a["anchorText"])
        for a in page["wikiLinks"]
        if "targetId" in a
    ]
    interwiki = list(page["interwiki"])
    external = [(l["url"], l.get("anchor")) for l in page["externalLinks"]]
    disambig = [
        (line_no, pos, target_id, anchor)
        for (_pid, line_no, pos, target_id, anchor) in disambig_rows(page)
    ]
    template_incl = [
        (tid, idx, param, value)
        for (_pid, tid, idx, param, value) in template_inclusion_rows(page)
    ]
    return (
        page["id"], page["title"], src["ns"], page.get("timestamp"),
        "ok", page["orgLength"], page["newLength"],
        page["isStub"], page["isDisambig"], page["isCategory"],
        page["isImage"], page["text"],
        anchors, list(page["categories"]), interwiki, external,
        list(page["bareUrls"]), list(page["relatedArticles"]), disambig,
        template_incl, src["content_sha256"],
    )


def _load_env(env_source) -> TransformEnv:
    """``env_source`` is either a SparkContext broadcast of the
    (title2id, redir, templates) triple, or a string path to the tagged
    dictionary parquet (workers side-load it once per process via
    functions/dictload.py — the prescanLoad equivalent)."""
    if isinstance(env_source, str):
        from wikiprep_spark.functions import dictload

        if os.path.isdir(os.path.join(env_source, "title2id")):
            # pruned layout (write_dicts_pruned): bounded-memory
            # row-group lookups instead of full materialization
            t2i, red, bodies = dictload.load_env_pruned(env_source)
        else:
            t2i, red, bodies = dictload.load_env_from_parquet(env_source)
    else:
        t2i, red, bodies = env_source.value
    return TransformEnv(title2id=t2i, redir=red, templates=bodies)


def _transform_records(records, env: TransformEnv) -> pd.DataFrame:
    """The per-batch kernel loop: ``records`` yields tuples in
    _INPUT_COLUMNS order; parse errors are dropped, every other page runs
    transform_one and becomes one wide row."""
    rows = []
    for (page_id, title, title_norm, ns, timestamp, text, sha,
         redirect_target, parse_error) in records:
        if parse_error is not None or page_id is None:
            continue
        mwpage = {
            "id": page_id,
            "title": title,
            "text": text,
            "timestamp": timestamp,
        }
        page = transform_one(mwpage, env)
        src = {
            "page_id": page_id, "title_norm": title_norm, "ns": ns,
            "timestamp": timestamp, "content_sha256": sha,
            "redirect_target": redirect_target,
        }
        rows.append(_row_from_page(src, page))
    return pd.DataFrame(rows, columns=_COLUMNS)


def transform_pages(parsed: DataFrame, env_source) -> DataFrame:
    """parsed pages + the prescan dictionaries -> wide rows (the staged
    and in-memory pipelines, where the parse is its own stage).
    ``env_source`` as in _load_env."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        env = _load_env(env_source)
        for batch in batches:
            if len(batch):
                # column-wise zip (to_dict('records') costs more than the
                # transform itself at this batch size)
                yield _transform_records(
                    zip(*[batch[c] for c in _INPUT_COLUMNS]), env)

    # mapInPandas feeds whole rows to python — prune to what the kernel
    # needs before crossing the Arrow boundary
    return parsed.select(*_INPUT_COLUMNS).mapInPandas(
        gen, schema=TRANSFORMED_SCHEMA
    )


def transform_src_pages(src_pages: DataFrame, losers: DataFrame,
                        env_source) -> DataFrame:
    """src_pages records + the prescan dictionaries -> wide rows, with the
    XML parse fused into the transform: ONE python pass per page (pass 2
    of the fused two-pass pipeline).

    ``losers`` is the (page_id, seq) duplicate-id set
    (prescan.dup_losers_from_src).  Losers are rare, so their page ids per
    ``seq`` ride along as a broadcast left join, and the python side drops
    a record whose parsed page_id is among them — exactly the rows the
    left-anti join of prescan.live_pages removes.  Parse errors are
    dropped like in transform_pages."""
    seq = F.concat_ws("\x00", "repo", "path", "commit").alias("seq")
    loser_ids = losers.groupBy("seq").agg(
        F.collect_set("page_id").alias("loser_ids"))
    records = (
        src_pages.select(seq, "repo", "path", "commit", "content")
        .join(F.broadcast(loser_ids), "seq", "left")
        .select("repo", "path", "commit", "content", "loser_ids")
    )
    pick = itemgetter(*(PARSED_COLUMNS.index(c) for c in _INPUT_COLUMNS))

    def live(batch: pd.DataFrame):
        for row, lost in zip(_parse_rows(batch), batch["loser_ids"]):
            # row[1] is page_id (None on a parse error)
            if lost is None or row[1] not in set(lost):
                yield pick(row)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        env = _load_env(env_source)
        for batch in batches:
            if len(batch):
                yield _transform_records(live(batch), env)

    return records.mapInPandas(gen, schema=TRANSFORMED_SCHEMA)
