"""Physical-plan regression gates (SURVEY.md §6 scale contract).

A plan that silently degrades — a broadcast join falling back to
sort-merge, a filter no longer reaching the parquet scan, a global sort
sneaking into the IVF bootstrap — is a 100 TB incident that small-scale
correctness tests can't see.  tools_plan_audit.py owns the per-operator
rules; this module asserts them on every pytest run (sf0.001 inputs, the
plans are scale-independent) and additionally proves the runtime-only
property static explain can't show: AQE reusing the (band,bucket)
exchange across both LSH self-join sides.
"""

import re

import tools_plan_audit as pa


def test_flagship_plan_rules(spark):
    results = pa.run_checks(spark, sf="/root/testdata/sf0.001")
    probs = {name: v for name, (_, v) in results.items() if v}
    assert not probs, f"plan rule violations: {probs}"


def test_lsh_self_join_reuses_exchange(spark):
    from wikiprep_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16,
                                  threshold=0.8)
    fp = pa.final_plan(lsh)
    assert "isFinalPlan=true" in fp
    assert len(re.findall(r"ReusedExchange", fp)) >= 1, (
        "post-AQE final plan lost the (band,bucket) exchange reuse — "
        "the signature chain would recompute per self-join side"
    )



def test_fused_transform_single_python_pass(spark, tmp_path):
    """Pass 2 of the fused pipeline parses, drops duplicate-id losers and
    runs the markup kernel in ONE python worker per task: its plan holds
    exactly one MapInPandas (the staged chain — parse, anti join,
    transform — holds two)."""
    from wikiprep_spark.operators.prescan import (
        dup_losers_from_src,
        live_pages,
    )
    from wikiprep_spark.operators.transform import (
        transform_pages,
        transform_src_pages,
    )
    from wikiprep_spark.sources.corpus import static_rows
    from wikiprep_spark.sources.pages import parse_pages

    src = spark.createDataFrame(
        static_rows(), "repo string, path string, commit string, "
        "lang string, content string")
    losers = dup_losers_from_src(src)
    dicts = str(tmp_path / "dicts")

    def n_python(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("MapInPandas")

    assert n_python(transform_src_pages(src, losers, dicts)) == 1
    assert n_python(
        transform_pages(live_pages(parse_pages(src), losers), dicts)) == 2
