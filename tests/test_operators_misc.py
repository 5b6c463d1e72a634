"""Graph, dedup, similarity, multimodal operator tests (small data)."""

import pytest
from pyspark.sql import functions as F

from wikiprep_spark.operators import dedup, graph, multimodal, similarity


def test_transitive_closure_roots(spark):
    # chain 1->2->3->4 and a lone edge 10->11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {
        (r["node"], r["root"], r["depth"])
        for r in graph.transitive_closure_roots(edges).collect()
    }
    assert got == {(1, 4, 3), (2, 4, 2), (3, 4, 1), (10, 11, 1)}


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "src long, dst long"
    )
    got = {
        (r["node"], r["component"])
        for r in graph.connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "The quick  brown fox jumps over the lazy dog"),  # dup of 0
            (2, "the quick brown fox jumps over a sleepy dog"),   # near-dup
            (3, "completely different text about spark pipelines"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup(spark, docs):
    groups = {r["representative_id"]: r["n_docs"]
              for r in dedup.exact_dedup(docs).collect()}
    assert groups[0] == 2  # doc 1 normalizes to doc 0's text
    assert groups[2] == 1 and groups[3] == 1


def test_token_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.token_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_exact_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs  # identical token sets always collide
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_hub_bucket_guard(spark):
    # degenerate boilerplate corpus: 40 identical docs + 2 distinct
    # near-dups.  With a cap below 40, the boilerplate band-buckets are
    # dropped (bounding candidates at k^2 per allowed bucket) while the
    # small near-dup pair survives.
    rows = [(i, "standard site boilerplate footer text here") for i in range(40)]
    rows += [(100, "a unique article about distributed spark engines"),
             (101, "a unique article about distributed flink engines")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    guarded = dedup.minhash_lsh_pairs(
        docs, threshold=0.5, max_bucket=10
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in guarded}
    assert (100, 101) in got
    assert not any(a < 40 and b < 40 for a, b in got)  # hub pairs dropped

    stats = dedup.minhash_lsh_bucket_stats(docs, max_bucket=10).collect()
    dropped = [r for r in stats if r["dropped"]]
    assert dropped and all(r["n_docs"] == 40 for r in dropped)
    # unguarded run still finds everything (exhaustive small-corpus mode)
    full = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    assert full.where("doc_a < 40 and doc_b < 40").count() == 40 * 39 / 2


def test_simhash_groups(spark, docs):
    rows = dedup.simhash(docs).collect()
    sh = {r["doc"]: r["simhash"] for r in rows}
    assert sh[0] == sh[1]
    groups = dedup.simhash_dup_groups(docs).collect()
    assert any(g["n_docs"] >= 2 for g in groups)


def test_cosine_topk_exact(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") == 0)
    got = [(r["neighbor_id"], r["rank"])
           for r in similarity.cosine_topk(emb, q, k=3).collect()]
    assert got[0] == (1, 1)
    assert [n for n, _ in got] == [1, 2, 3]


def test_cosine_near_dup_lsh_matches_exact(spark):
    """Banded hyperplane LSH + exact verify recovers ALL pairs above the
    threshold on a clustered corpus (the recall-1 regime the band math
    guarantees), and the hub-bucket guard bounds degenerate clusters."""
    import random

    rng = random.Random(11)
    dim = 16
    rows = []
    # 10 cluster centers, 5 tight members each (cosine >> 0.95 within)
    for c in range(10):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for m in range(5):
            vec = [x + rng.uniform(-0.01, 0.01) for x in center]
            rows.append((c * 10 + m, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {(r["vec_a"], r["vec_b"])
             for r in similarity.cosine_pairs_exact(emb, 0.95).collect()}
    lsh = {(r["vec_a"], r["vec_b"])
           for r in similarity.cosine_near_dup_pairs(
               emb, dim=dim, threshold=0.95).collect()}
    assert lsh == exact and exact  # precision AND recall 1

    guarded = similarity.cosine_near_dup_pairs(
        emb, dim=dim, threshold=0.95, max_bucket=3
    )
    assert {(r["vec_a"], r["vec_b"]) for r in guarded.collect()} <= exact


def test_ivf_topk(spark):
    import random

    rng = random.Random(3)
    dim = 8
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4)

    exact = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in similarity.cosine_topk(emb, q, k=5).collect()}
    # probing every inverted list == exhaustive search
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in similarity.ivf_cosine_topk(
                emb, q, k=5, n_centroids=6, n_probe=6).collect()}
    assert full == exact
    # partial probe: every result must carry the true cosine and rank
    # consistently within the probed subset
    part = similarity.ivf_cosine_topk(emb, q, k=5, n_centroids=6,
                                      n_probe=2).collect()
    assert part and all(r["neighbor_id"] != r["query_id"] for r in part)
    exact_pairs = {(r["query_id"], r["neighbor_id"])
                   for r in similarity.cosine_topk(emb, q, k=60).collect()}
    assert all((r["query_id"], r["neighbor_id"]) in exact_pairs
               for r in part)


def test_lsh_topk_subset_of_exact(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 3)
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.lsh_cosine_topk(emb, q, dim=8, k=5, n_planes=2)
    # every approx neighbor must be a real vector with correct cosine rank
    # within its bucket; sanity: results non-empty and self excluded
    rows = approx.collect()
    assert rows
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    assert exact.count() == 15


def test_sample_pages(spark):
    from wikiprep_spark.sources.corpus import build_src_pages
    from wikiprep_spark.sources.pages import sample_pages

    src = build_src_pages(spark, "/root/testdata/sf0.001", limit=60)
    n = src.count()
    sampled = sample_pages(src, fraction=0.3, seed=7)
    n_s = sampled.count()
    assert 0 < n_s < n
    # seeded: deterministic across runs
    assert sample_pages(src, fraction=0.3, seed=7).count() == n_s
    # sampled rows are a subset of the corpus
    assert sampled.exceptAll(src).count() == 0


def test_category_hierarchy(spark):
    from wikiprep_spark.operators.stats import category_hierarchy

    edges_df = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (100, 200)],
        "page_id long, category_id long",
    )
    got = {r["parent_id"]: list(r["member_ids"])
           for r in category_hierarchy(edges_df).collect()}
    assert got == {100: [1, 2], 200: [3, 100]}


def test_template_inclusions_partitioned_write(spark, tmp_path):
    from wikiprep_spark.operators.edges import (
        write_template_inclusions_partitioned,
    )

    rows = [(p, t, 0, "name", f"v{p}") for p in range(50)
            for t in ([11] if p % 2 else [11, 12])]  # 11 is the hub
    df = spark.createDataFrame(
        rows,
        "page_id long, template_id long, incl_idx int, param string, "
        "value string",
    )
    path = str(tmp_path / "tincl")
    write_template_inclusions_partitioned(df, path, salt_buckets=4,
                                           num_partitions=8)

    back = spark.read.parquet(path)
    assert back.count() == len(rows)
    # partition pruning: reading one template touches only its directory
    one = back.where(F.col("template_id") == 12)
    files = one.select(F.input_file_name()).distinct().collect()
    assert files and all("template_id=12" in r[0] for r in files)
    assert one.count() == 25
    # hub salting: template 11's rows span multiple files
    hub_files = (
        back.where(F.col("template_id") == 11)
        .select(F.input_file_name()).distinct().count()
    )
    assert hub_files > 1


def test_pruned_dict_transform_equality(spark, tmp_path):
    """The bounded-memory dict path (write_dicts_pruned +
    RowGroupPrunedDict) must produce the byte-identical transformed table
    as the in-memory dict path (SURVEY.md §4 big-dict fallback)."""
    from wikiprep_spark.plans.pipeline import run_pipeline
    from wikiprep_spark.sources.corpus import build_src_pages

    src = build_src_pages(spark, "/root/testdata/sf0.001", limit=60).persist()
    inmem = run_pipeline(spark, src, dict_mode="inmem")
    pruned = run_pipeline(spark, src, dict_mode="pruned")

    cols = sorted(inmem["transformed"].columns)
    a = sorted(map(repr, inmem["transformed"].select(cols).collect()))
    b = sorted(map(repr, pruned["transformed"].select(cols).collect()))
    assert a == b and len(a) > 0
    src.unpersist()


def test_pruned_dict_lookup_unit(spark, tmp_path):
    from wikiprep_spark.functions.dictload import (
        RowGroupPrunedDict, key_hash,
    )
    from wikiprep_spark.operators.prescan import _key_hash_col

    rows = [("Title %04d" % i, i) for i in range(5000)]
    df = spark.createDataFrame(rows, "title_norm string, page_id long")
    # JVM hash == python hash (the pruning contract)
    sample = df.select(
        "title_norm", _key_hash_col(F.col("title_norm")).alias("kh")
    ).limit(50).collect()
    assert all(key_hash(r["title_norm"]) == r["kh"] for r in sample)

    from wikiprep_spark.operators.prescan import write_dicts_pruned

    tb = spark.createDataFrame([(11, "body")],
                               "template_id long, body string")
    write_dicts_pruned(df, df.selectExpr(
        "title_norm as from_title", "title_norm as to_title").limit(0),
        tb, str(tmp_path / "d"))
    d = RowGroupPrunedDict(str(tmp_path / "d" / "title2id"))
    assert d.get("Title 0000") == 0
    assert d.get("Title 4999") == 4999
    assert d.get("Missing") is None
    assert "Title 0123" in d and d["Title 0123"] == 123


def test_dictload_cache_keeps_current_dictionary_only(tmp_path,
                                                     monkeypatch):
    """A reused python worker that loads a second run's dictionaries
    frees the first run's: two paths loaded in a row leave one entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikiprep_spark.functions import dictload

    monkeypatch.setattr(dictload, "_CACHE", {})
    paths = []
    for run in ("a", "b"):
        d = tmp_path / run
        d.mkdir()
        pq.write_table(pa.table({"kind": ["t"], "k": ["Title " + run],
                                 "v": ["1"]}), str(d / "part-0.parquet"))
        paths.append(str(d))
    first = dictload.load_env_from_parquet(paths[0])
    assert dictload.load_env_from_parquet(paths[0]) is first
    second = dictload.load_env_from_parquet(paths[1])
    assert second[0] == {"Title b": 1}
    assert list(dictload._CACHE) == [paths[1]]


def test_fused_pipeline_equality(spark, tmp_path):
    """The fused two-pass pipeline (no parsed-parquet materialization,
    JVM-side dup-id scan, prescan-projection parse, parse fused into the
    transform mapInPandas) must emit the same pages, edges and lineage
    checksums as the staged pipeline — also on duplicate ids, malformed
    records and records that share a seq key."""
    from wikiprep_spark.plans.pipeline import run_pipeline
    from wikiprep_spark.sources.corpus import _row, build_src_pages

    def rec(repo, path, page_id, title, text):
        return (repo, path, "c0", "wikitext", _row(page_id, title, text)[4])

    injected = spark.createDataFrame([
        # id 9001 twice: the later seq ("~" sorts last) loses
        rec("!dup", "a.xml", 9001, "Dup Early", "early [[Dup Late]]"),
        rec("~dup", "z.xml", 9001, "Dup Late", "late [[Dup Early]]"),
        # malformed record (unterminated <page>): a parse error, dropped
        ("!bad", "m.xml", "c0", "wikitext",
         "<page><title>Broken</title><id>9002</id>"),
        # two records share one seq; only the one whose id also appears
        # at an EARLIER seq loses, the other stays
        rec("wiki/same", "s.xml", 9003, "Shared A", "shared a"),
        rec("wiki/same", "s.xml", 9004, "Shared B", "shared b"),
        rec("!first", "f.xml", 9004, "Shared B First", "first b"),
    ], "repo string, path string, commit string, lang string, "
       "content string")
    src_dir = str(tmp_path / "src")
    build_src_pages(spark, "/root/testdata/sf0.001", limit=60) \
        .unionByName(injected).repartition(3).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)

    staged = run_pipeline(spark, src, work_dir=str(tmp_path / "w1"),
                          resume=False)
    fused = run_pipeline(spark, src, work_dir=str(tmp_path / "w2"),
                         resume=False, fuse_parse=True)

    for table in ("links", "anchors", "categories", "redirect_records"):
        a = sorted(map(repr, staged[table].collect()))
        b = sorted(map(repr, fused[table].collect()))
        assert a == b and a, table
    assert fused["_counts"]["transformed"] == staged["transformed"].count()
    assert fused["_counts"]["triples"] == staged["triples"].count()
    pages = {}
    for name, res in (("staged", staged), ("fused", fused)):
        pages[name] = sorted(
            tuple(r) for r in res["transformed"]
            .select("page_id", "title", "status", "content_sha256").collect())
    assert pages["fused"] == pages["staged"]
    titles = {(pid, t) for pid, t, _, _ in pages["fused"]}
    assert (9001, "Dup Early") in titles and (9001, "Dup Late") not in titles
    assert not any(pid == 9002 for pid, _ in titles)
    assert (9003, "Shared A") in titles
    assert (9004, "Shared B First") in titles
    assert (9004, "Shared B") not in titles
    # lineage totals (rows, content checksum AND byte_count — all three
    # sum the same raw-record quantities) agree across modes even though
    # partition boundaries may differ
    def totals(wd):
        df = spark.read.parquet(str(tmp_path / wd / "lineage"))
        r = df.agg(F.sum("rows"), F.sum("content_checksum"),
                   F.sum("byte_count")).first()
        return tuple(r)
    assert totals("w1") == totals("w2")


def test_pipeline_joins_lineage_writer_on_failure(spark, tmp_path,
                                                  monkeypatch):
    """A failing transform must not return while the overlapped lineage
    writer is still writing into work_dir: run_pipeline joins it before
    the transform's error propagates."""
    import os

    from wikiprep_spark.plans import pipeline
    from wikiprep_spark.sources.corpus import static_rows

    src = spark.createDataFrame(
        static_rows(), "repo string, path string, commit string, "
        "lang string, content string")

    def failing_transform(*args):
        raise RuntimeError("transform failed")

    monkeypatch.setattr(pipeline, "transform_src_pages", failing_transform)
    wd = str(tmp_path / "work")
    with pytest.raises(RuntimeError, match="transform failed"):
        pipeline.run_pipeline(spark, src, work_dir=wd, resume=False,
                              fuse_parse=True)
    assert os.path.exists(os.path.join(wd, "lineage", "_SUCCESS"))


def test_pipeline_resume_skips_finished_stages(spark, tmp_path):
    """Killed-run semantics: a re-run with resume=True must NOT recompute
    stages whose _SUCCESS marker exists, and must recompute exactly the
    stage whose marker was removed."""
    import os

    from wikiprep_spark.plans.pipeline import run_pipeline
    from wikiprep_spark.sources.corpus import build_src_pages

    src_dir = str(tmp_path / "src")
    build_src_pages(spark, "/root/testdata/sf0.001", limit=40) \
        .repartition(2).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    wd = str(tmp_path / "work")

    first = run_pipeline(spark, src, work_dir=wd, resume=True)
    n_triples = first["triples"].count()
    parsed_dir = os.path.join(wd, "parsed_pages")
    mtime_before = {f: os.path.getmtime(os.path.join(parsed_dir, f))
                    for f in os.listdir(parsed_dir)}

    # full resume: nothing recomputed, same results
    second = run_pipeline(spark, src, work_dir=wd, resume=True)
    mtime_after = {f: os.path.getmtime(os.path.join(parsed_dir, f))
                   for f in os.listdir(parsed_dir)}
    assert mtime_after == mtime_before  # parse stage untouched
    assert second["triples"].count() == n_triples

    # kill marker of the LAST stage only -> that stage recomputes, parse
    # still untouched
    os.remove(os.path.join(wd, "triples", "_SUCCESS"))
    third = run_pipeline(spark, src, work_dir=wd, resume=True)
    assert third["triples"].count() == n_triples
    assert {f: os.path.getmtime(os.path.join(parsed_dir, f))
            for f in os.listdir(parsed_dir)} == mtime_before


def test_dup_losers_from_src_equivalence(spark):
    """JVM-side dup-id extraction must match the parse-derived one,
    including on corpora with duplicate page ids AND malformed records:
    a garbage record containing "<id>N</id>" must not join the dup set
    (it would anti-join away the validly-parsed page with that id)."""
    from wikiprep_spark.operators import prescan as P
    from wikiprep_spark.sources.corpus import build_src_pages, _row
    from wikiprep_spark.sources.pages import parse_pages

    src = build_src_pages(spark, "/root/testdata/sf0.001", limit=30)
    # inject duplicate-id pages (same id 1005, different paths)
    dup_rows = [
        ("wiki/dup", "a.xml", "c1", "wikitext",
         _row(1005, "Dup A", "text a")[4]),
        ("wiki/dup", "b.xml", "c2", "wikitext",
         _row(1005, "Dup B", "text b")[4]),
        # malformed records that the python parser rejects; "!" sorts the
        # seq key BEFORE every valid record, so if either leaked into the
        # JVM dup set it would win min(seq) and evict a real page
        ("!bad", "a.xml", "c0", "wikitext",
         "garbage <id>1001</id> not xml"),
        ("!bad", "b.xml", "c0", "wikitext",
         "<page><title>T</title><id>1002</id>"),
        # wrapped record (valid; parser unwraps to the inner <page>)
        ("!wrap", "w.xml", "c0", "wikitext",
         "<mediawiki>" + _row(1005, "Dup W", "text w")[4] + "</mediawiki>"),
        # DOUBLY-wrapped record: both the python parser (one wrapping
        # level only) and the JVM from_xml id rule must reject it —
        # if only one path did, the dup sets would diverge (ADVICE r4)
        ("!wrap2", "w.xml", "c0", "wikitext",
         "<export><mediawiki>" + _row(1005, "Dup W2", "text w2")[4]
         + "</mediawiki></export>"),
        # duplicate id OVERFLOWING int64 (ADVICE r4): both paths must
        # reject it identically — python parse raises (page_id null),
        # the JVM candidate scan try_casts it to NULL — so neither path
        # produces a loser and the frames stay equal; with plain int()/
        # cast the python side would accept what the JVM side nulls
        ("!huge", "a.xml", "c0", "wikitext",
         "<page><title>Huge A</title><id>99999999999999999999</id>"
         "<revision><text>ha</text></revision></page>"),
        ("!huge", "b.xml", "c0", "wikitext",
         "<page><title>Huge B</title><id>99999999999999999999</id>"
         "<revision><text>hb</text></revision></page>"),
    ]
    dup = spark.createDataFrame(
        dup_rows,
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    src = src.unionByName(dup)

    parsed = parse_pages(src)
    via_parse = {tuple(r) for r in P.live_pages(parsed)
                 .select("page_id", "seq").collect()}
    via_src = {tuple(r) for r in P.live_pages(
        parsed, P.dup_losers_from_src(src)).select("page_id", "seq")
        .collect()}
    assert via_parse == via_src
    # and the duplicate id appears exactly once
    n = sum(1 for pid, _ in via_parse if pid == 1005)
    assert n == 1


def test_pruned_dict_backward_straddle(tmp_path, monkeypatch):
    """An equal-hash run that straddles a row-group boundary must be fully
    reachable: bisect lands on the LAST group whose min <= hash, so the
    lookup has to rewind to the run's first group (hash collisions are
    expected at the 10^9-key scale the pruned path is built for)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikiprep_spark.functions import dictload

    # 6 rows, hash H for all but the first; 2-row groups put the H-run
    # start in group 0 and its tail through groups 1-2
    H = 10**9
    tbl = pa.table({
        "kh": pa.array([H - 1, H, H, H, H, H], pa.int64()),
        "k": ["z", "a", "b", "c", "d", "e"],
        "v": ["vz", "va", "vb", "vc", "vd", "ve"],
    })
    d = tmp_path / "dict"
    d.mkdir()
    pq.write_table(tbl, str(d / "part-0.parquet"), row_group_size=2)

    fake = {"z": H - 1, "a": H, "b": H, "c": H, "d": H, "e": H}
    monkeypatch.setattr(dictload, "key_hash", lambda k: fake[k])
    rg = dictload.RowGroupPrunedDict(str(d))
    assert len(rg._index) == 3  # the straddle actually exists
    for k in "zabcde":
        assert rg.get(k) == "v" + k, k


def test_pruned_dicts_resume_gates_on_all_subtables(spark, tmp_path):
    """ADVICE: a crash after the title2id sub-write but before the
    templates sub-write must NOT count as a finished dicts stage — resume
    has to rewrite the dictionaries when any sub-table marker is missing."""
    import os

    from wikiprep_spark.plans.pipeline import run_pipeline
    from wikiprep_spark.sources.corpus import build_src_pages

    src_dir = str(tmp_path / "src")
    build_src_pages(spark, "/root/testdata/sf0.001", limit=40) \
        .repartition(2).write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    wd = str(tmp_path / "work")

    first = run_pipeline(spark, src, work_dir=wd, resume=True,
                         dict_mode="pruned")
    assert isinstance(first["_metrics"].stages[1]["dict_rows"], int)
    n = first["triples"].count()
    dicts = os.path.join(wd, "dicts_pruned")

    # simulate the mid-stage crash: templates/_SUCCESS never landed
    os.remove(os.path.join(dicts, "templates", "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(dicts, "title2id", "_SUCCESS"))
    second = run_pipeline(spark, src, work_dir=wd, resume=True,
                          dict_mode="pruned")
    assert second["triples"].count() == n
    assert os.path.exists(os.path.join(dicts, "templates", "_SUCCESS"))
    # the stage reran as a unit (title2id rewritten too, not skipped)
    assert os.path.getmtime(
        os.path.join(dicts, "title2id", "_SUCCESS")) > mtime


def test_multimodal_plumbing(spark, docs):
    media = multimodal.attach_binary_payload(docs, "doc_id", "text")
    integ = multimodal.payload_integrity(media).collect()
    assert all(r["sha_ok"] and r["len_ok"] for r in integ)
    feats = multimodal.extract_features(media).collect()
    assert all(r["decode_status"] == "ok_stub" for r in feats)
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(abs(sum(r["feature"]) - 1.0) < 1e-6 for r in feats)


def test_decode_stub_strict_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"xx", "image", strict=True)
    # codec-bound payloads (video container) still raise in strict mode
    # via the dispatcher
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x00\x00\x00\x18ftypmp42moovish",
                                "video", strict=True)


def _make_png(w, h, color=(200, 50, 7)):
    """Minimal real RGB8 PNG, built with the stdlib (the same chunk/CRC/
    zlib layout any encoder emits)."""
    import struct
    import zlib

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(color) * w for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _make_wav(n_frames=64, rate=8000, amplitude=1000):
    import math
    import struct

    samples = b"".join(
        struct.pack("<h", int(amplitude * math.sin(i / 3.0)))
        for i in range(n_frames))
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(samples)) + samples)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_png_real():
    png = _make_png(5, 3)
    d = multimodal.decode_png(png)
    assert (d["width"], d["height"], d["bit_depth"], d["channels"]) == \
        (5, 3, 8, 3)
    # strict mode succeeds: this is a REAL decode, not the stub
    feat, status = multimodal.decode_media(png, "image", strict=True)
    assert status == "ok_png" and len(feat) == 8 and feat[0] == 1.0
    # corruption is detected (CRC), not silently featurized
    import pytest as _pytest

    bad = png[:40] + bytes([png[40] ^ 0xFF]) + png[41:]
    with _pytest.raises(ValueError):
        multimodal.decode_png(bad)


def test_decode_wav_real():
    wav = _make_wav()
    d = multimodal.decode_wav(wav)
    assert (d["channels"], d["rate"], d["bits"], d["n_samples"]) == \
        (1, 8000, 16, 64)
    assert 0.0 < d["rms"] <= d["peak"] <= 1.0
    feat, status = multimodal.decode_media(wav, "audio", strict=True)
    assert status == "ok_wav" and feat[0] == 2.0
    # non-PCM stays codec-bound -> ValueError, not a fake feature
    import struct

    gsm_fmt = struct.pack("<HHIIHH", 49, 1, 8000, 1625, 65, 0)
    gsm = (b"RIFF" + struct.pack("<I", 24) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(gsm_fmt)) + gsm_fmt)
    with pytest.raises(ValueError):
        multimodal.decode_wav(gsm)


def test_media_decode_in_spark(spark):
    """The mapInPandas chain routes each payload to its real decoder."""
    rows = [
        (1, "image", bytearray(_make_png(4, 4))),
        (2, "audio", bytearray(_make_wav())),
        (3, "blob", bytearray(b"opaque-unknown-bytes")),
    ]
    df = spark.createDataFrame(
        rows, "item_id long, media_type string, payload binary")
    media = df.select(
        "item_id", "media_type", "payload",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.sha2("payload", 256).alias("sha256"),
        ).alias("meta"),
    )
    got = {r["item_id"]: r for r in
           multimodal.extract_features(media).collect()}
    assert got[1]["decode_status"] == "ok_png"
    assert got[2]["decode_status"] == "ok_wav"
    assert got[3]["decode_status"] == "ok_stub"
    assert all(len(r["feature"]) == 8 for r in got.values())


def test_near_dup_groups(spark):
    """Dedup decisions: transitively-linked near-dups collapse to one
    min-id representative; unique docs represent themselves."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),       # dup of 1
            (3, "alpha beta gamma delta epsilon"),  # near-dup of 1/2
            (9, "totally different words here entirely"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.near_dup_groups(
        docs, threshold=0.8).collect()}
    assert got[1]["representative_id"] == 1 and not got[1]["is_duplicate"]
    assert got[2]["representative_id"] == 1 and got[2]["is_duplicate"]
    assert got[3]["representative_id"] == 1 and got[3]["is_duplicate"]
    assert got[9]["representative_id"] == 9 and not got[9]["is_duplicate"]


def test_ivf_kmeans_refine(spark):
    """Lloyd refinement: (a) bit-identical centroids under ANY input
    partitioning (the decimal-accumulation determinism claim — float sums
    would diverge), (b) the spherical-kmeans objective does not get worse,
    (c) empty clusters keep their previous centroid."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = similarity.ivf_centroids(emb, 4)

    a = similarity.ivf_kmeans_refine(emb.repartition(3), seeds, n_iters=2)
    b = similarity.ivf_kmeans_refine(emb.repartition(7), seeds, n_iters=2)
    assert a == b  # exact equality, not approx

    before = similarity.ivf_inertia(emb, seeds)
    after = similarity.ivf_inertia(emb, a)
    assert after <= before + 1e-12

    # a centroid no vector chooses survives refinement unchanged: cosine
    # is scale-invariant, so 2x seed 0 ties with seed 0 on every vector
    # (power-of-two scaling is FP-exact) and the lower centroid id wins
    # the tie -> centroid 99 gets zero members
    dup = [x * 2 for x in seeds[0][1]]
    refined = dict(similarity.ivf_kmeans_refine(emb, seeds + [(99, dup)],
                                                n_iters=1))
    assert refined[99] == dup


def test_bpe_token_count(spark, docs):
    from wikiprep_spark.operators import textops

    got = {r["doc_id"]: r for r in
           textops.bpe_token_count(docs).collect()}
    df2 = spark.createDataFrame(
        [(100, "It's 42 degrees — really?!")], "doc_id long, text string")
    r = textops.bpe_token_count(df2).first()
    # It|'s| 42| degrees| —| really|?!  -> 7 pre-tokens
    assert r["n_bpe_tokens"] == 7
    assert r["n_ws_tokens"] == 5
    assert all(v["n_bpe_tokens"] >= v["n_ws_tokens"] for v in got.values())


def test_winnow_fingerprints_property(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + window - 1 (= 11 at k=8, w=4) share at least one fingerprint;
    unrelated documents share none."""
    from wikiprep_spark.operators import textops

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCC dddd " + shared + " eeee"),
            (3, "zz yy xx ww vv uu tt ss rr qq pp oo nn"),
        ],
        "doc_id long, text string",
    )
    fps = textops.winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]          # shared run -> shared fingerprint
    assert not (by_doc[1] & by_doc[3])    # unrelated -> disjoint
    assert not (by_doc[2] & by_doc[3])


def test_shingle_dedup(spark, docs):
    from pyspark.sql import functions as F

    # 3-gram shingle sets: identical normalized docs still match exactly
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.token_jaccard_pairs(
                 docs, threshold=0.5, shingle=3).collect()}
    assert pairs[(0, 1)] == 1.0
    lsh = {(r["doc_a"], r["doc_b"])
           for r in dedup.minhash_lsh_pairs(
               docs, threshold=0.5, shingle=3).collect()}
    assert (0, 1) in lsh
    # shingle sets are far more selective than unigram sets
    toks = dedup._token_sets(docs, "doc_id", "text", shingle=3).collect()
    t = {r["doc"]: set(r["toks"]) for r in toks}
    inter = len(t[0] & t[3]) / len(t[0] | t[3])
    assert inter < 0.2


def test_extract_features_malformed_payloads_degrade_to_corrupt(spark):
    """ADVICE r4: malformed payloads that drive the stdlib decoders into
    zlib.error / struct.error / KeyError must emit decode_status='corrupt'
    rows, never crash the Spark task."""
    import struct
    import zlib

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_ok = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    payloads = [
        # CRC-valid chunks, but IDAT fails inflate -> zlib.error
        (1, sig + chunk(b"IHDR", ihdr_ok) + chunk(b"IDAT", b"notzlib")
         + chunk(b"IEND", b"")),
        # IHDR declared with a 4-byte body -> struct.error in unpack
        (2, sig + chunk(b"IHDR", b"\x00" * 4) + chunk(b"IEND", b"")),
        # color type 9 (outside the PNG spec) -> KeyError on channels
        (3, sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 9, 0, 0, 0))
         + chunk(b"IEND", b"")),
        # WAV fmt chunk shorter than 16 bytes -> struct.error
        (4, b"RIFF" + struct.pack("<I", 16) + b"WAVE"
         + b"fmt " + struct.pack("<I", 4) + b"\x00" * 4),
        # CRC mismatch -> the deliberate ValueError path still works
        (5, sig + (lambda c: c[:-1] + bytes([c[-1] ^ 0xFF]))(
            chunk(b"IHDR", ihdr_ok)) + chunk(b"IEND", b"")),
    ]
    df = spark.createDataFrame(
        [(i, "image", bytearray(p)) for i, p in payloads],
        "item_id long, media_type string, payload binary")
    media = df.select(
        "item_id", "media_type", "payload",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.sha2("payload", 256).alias("sha256"),
        ).alias("meta"))
    got = {r["item_id"]: r for r in
           multimodal.extract_features(media).collect()}
    assert len(got) == 5
    for i in got:
        assert got[i]["decode_status"] == "corrupt", i
        assert got[i]["feature"] is None


def test_dup_losers_literal_id_forms(spark):
    """ADVICE r4: '<id>007</id>' and '<id>7</id>' are the SAME page id
    under the int() rule of both parsers; the candidate scan must group
    numerically (bigint cast) or the duplicate escapes detection."""
    from wikiprep_spark.operators import prescan as P
    from wikiprep_spark.sources.pages import parse_pages

    def rec(id_literal, title, body):
        return ("<page><title>%s</title><id>%s</id><revision>"
                "<timestamp>2008-01-01T00:00:00Z</timestamp>"
                "<text>%s</text></revision></page>"
                % (title, id_literal, body))

    src = spark.createDataFrame(
        [("r", "a.xml", "c1", "wikitext", rec("007", "Padded", "a")),
         ("r", "b.xml", "c2", "wikitext", rec("7", "Bare", "b")),
         ("r", "c.xml", "c3", "wikitext", rec("8", "Other", "c"))],
        "repo string, path string, commit string, lang string, "
        "content string")
    parsed = parse_pages(src)
    via_parse = {tuple(r) for r in P.live_pages(parsed)
                 .select("page_id", "seq").collect()}
    via_src = {tuple(r) for r in P.live_pages(
        parsed, P.dup_losers_from_src(src)).select("page_id", "seq")
        .collect()}
    assert via_parse == via_src
    assert sum(1 for pid, _ in via_src if pid == 7) == 1  # dup caught
    assert sum(1 for pid, _ in via_src if pid == 8) == 1


def test_parse_page_record_single_wrap_only():
    """The python parser accepts exactly one wrapping element — matching
    what the JVM-side from_xml id rule can see (id | page.id)."""
    from wikiprep_spark.sources.mediawiki_xml import (
        make_page_xml, parse_page_record)

    inner = make_page_xml(42, "T", "body")
    assert parse_page_record(inner)["id"] == 42
    assert parse_page_record(
        "<mediawiki>%s</mediawiki>" % inner)["id"] == 42
    with pytest.raises(ValueError):
        parse_page_record(
            "<export><mediawiki>%s</mediawiki></export>" % inner)


def test_parse_page_record_id_bigint_grammar():
    """The python id rule must match the JVM side exactly (ADVICE r4):
    ids outside BIGINT range (which from_xml's BIGINT field nulls out,
    and which would overflow the parsed table's long column) and int()
    extensions like '1_2' underscore separators are REJECTED, not
    silently accepted to diverge from the src-scan dup path."""
    from wikiprep_spark.sources.mediawiki_xml import parse_page_record

    def rec(id_literal):
        return ("<page><title>T</title><id>%s</id>"
                "<revision><text>b</text></revision></page>" % id_literal)

    assert parse_page_record(rec("007"))["id"] == 7
    assert parse_page_record(rec(" 42 "))["id"] == 42  # cast trims
    assert parse_page_record(rec(str(2 ** 63 - 1)))["id"] == 2 ** 63 - 1
    for bad in (str(2 ** 63), str(10 ** 25), "1_2", "0x10", "4.0", ""):
        with pytest.raises(ValueError):
            parse_page_record(rec(bad))


def _make_jpeg(w, h, progressive=False, precision=8, ncomp=3):
    """Minimal structurally-valid JPEG header stream: SOI, APP0/JFIF, DQT,
    SOFn, EOI (no entropy data — the dimension walk never reads it)."""
    import struct

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + bytes(64))
    sof_data = struct.pack(">BHHB", precision, h, w, ncomp) \
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"[:ncomp * 3]
    sof = seg(0xC2 if progressive else 0xC0, sof_data)
    return b"\xff\xd8" + app0 + dqt + sof + b"\xff\xd9"


def test_decode_jpeg_meta_real():
    d = multimodal.decode_jpeg_meta(_make_jpeg(640, 480))
    assert (d["width"], d["height"], d["precision"], d["components"],
            d["progressive"]) == (640, 480, 8, 3, False)
    assert multimodal.decode_jpeg_meta(_make_jpeg(9, 7, progressive=True))[
        "progressive"]
    # strict mode succeeds: dimensions are REAL metadata, not the stub
    feat, status = multimodal.decode_media(_make_jpeg(640, 480), "image",
                                           strict=True)
    assert status == "ok_jpeg_meta" and feat[0] == 3.0
    assert abs(feat[1] - 640 / 65535) < 1e-9
    # non-JPEG returns None (falls through to the other decoders)
    assert multimodal.decode_jpeg_meta(b"RIFFxxxx") is None
    # malformed streams raise: truncated segment, SOS before SOF, no SOF
    for bad in (b"\xff\xd8\xff\xe0jpegish",
                b"\xff\xd8\xff\xda\x00\x04\x01\x00",
                b"\xff\xd8\xff\xd9"):
        with pytest.raises(ValueError):
            multimodal.decode_jpeg_meta(bad)
    # payloads ending inside a 0xFF fill-byte run must raise ValueError —
    # the documented contract — not IndexError from reading past the end
    # (ADVICE r4: the fill-skip loop could advance pos to len-1)
    for bad in (b"\xff\xd8\xff", b"\xff\xd8\xff\xff",
                b"\xff\xd8\xff\xff\xff", b"\xff\xd8\xff\xe0\x00\x02\xff"):
        with pytest.raises(ValueError):
            multimodal.decode_jpeg_meta(bad)


def test_jpeg_in_spark_feature_chain(spark):
    rows = [(1, "image", bytearray(_make_jpeg(100, 50))),
            (2, "image", bytearray(b"\xff\xd8\xff\xe0jpegish"))]
    df = spark.createDataFrame(
        rows, "item_id long, media_type string, payload binary")
    media = df.select(
        "item_id", "media_type", "payload",
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.sha2("payload", 256).alias("sha256"),
        ).alias("meta"))
    got = {r["item_id"]: r for r in
           multimodal.extract_features(media).collect()}
    assert got[1]["decode_status"] == "ok_jpeg_meta"
    assert got[2]["decode_status"] == "corrupt"


def test_embedding_near_dup_groups(spark):
    """Vector dedup decisions: transitively-linked near-dup vectors
    collapse to one min-id representative; isolated vectors represent
    themselves — the embedding twin of near_dup_groups."""
    import random

    rng = random.Random(5)
    dim = 16
    rows = []
    for c in range(4):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for m in range(3):
            rows.append((c * 10 + m,
                         [x + rng.uniform(-0.005, 0.005) for x in center]))
    rows.append((99, [1.0] + [0.0] * (dim - 1)))  # isolated
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {r["vec_id"]: r for r in similarity.embedding_near_dup_groups(
        emb, dim=dim, threshold=0.95).collect()}
    assert len(got) == 13
    for c in range(4):
        rep = c * 10
        assert not got[rep]["is_duplicate"]
        for m in (1, 2):
            assert got[rep + m]["representative_id"] == rep
            assert got[rep + m]["is_duplicate"]
    assert got[99]["representative_id"] == 99 and not got[99]["is_duplicate"]


def test_winnow_overlap_pairs(spark):
    """MOSS containment: a document embedding another's full text pairs
    at overlap 1.0 regardless of its extra content (where Jaccard would
    dilute); unrelated text does not pair; the boilerplate posting guard
    drops pairs whose only shared evidence is hyper-common fingerprints."""
    from wikiprep_spark.operators import textops

    core = "def quicksort(arr): return sorted(arr) # classic algorithm"
    docs = spark.createDataFrame(
        [
            (1, core),
            (2, "intro paragraph here. " + core + " and a long trailing "
                "discussion of complexity bounds and pivots."),
            (3, "completely unrelated prose about mountain weather"),
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_a"], r["doc_b"]): r for r in
           textops.winnow_overlap_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["overlap"] == 1.0  # containment, not Jaccard
    assert not any(3 in p for p in got)

    # boilerplate guard: 30 docs sharing ONLY a license header pair with
    # each other; with max_posting below 30 those pairs disappear while
    # the genuine clone pair (1,2) survives
    header = "copyright acme corp all rights reserved license apache two"
    rows = [(100 + i, header + f" unique body text number {i} "
             + "x" * (i % 7)) for i in range(30)]
    many = docs.unionByName(spark.createDataFrame(
        rows, "doc_id long, text string"))
    guarded = {(r["doc_a"], r["doc_b"]) for r in
               textops.winnow_overlap_pairs(
                   many, threshold=0.5, max_posting=10).collect()}
    assert (1, 2) in guarded
    assert not any(a >= 100 and b >= 100 for a, b in guarded)


def test_synth_documents_distribution_and_planted_dups(spark):
    """The scale-corpus synthesizer must (a) be deterministic, (b) match
    the driver testdata's documents shape/distribution, (c) plant sparse
    one-word near-duplicates (not replication's identical clusters), and
    (d) stay pure JVM codegen — a python stage in the generator would
    pollute the data-scale measurements it exists for."""
    from wikiprep_spark.sources.corpus import _DOC_VOCAB, synth_documents

    df = synth_documents(spark, 1000)
    rows = df.orderBy("doc_id").collect()
    assert rows == synth_documents(spark, 1000).orderBy("doc_id").collect()
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,text:string,lang:string,source:string,"
        "n_chars:bigint>")
    vocab = set(_DOC_VOCAB)
    for r in rows[:50]:
        words = r.text.split()
        assert 10 <= len(words) <= 100
        assert set(words) <= vocab
        assert r.n_chars == len(r.text)
    assert {r.lang for r in rows} == {"en", "zh", "es", "fr", "de"}
    # planted near-dups: doc (200k-1) differs from doc (200k-2) in at
    # most one position (the substitute may coincide with the original)
    for k in (199, 399, 599, 799, 999):
        a, b = rows[k - 1].text.split(), rows[k].text.split()
        assert len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) <= 1
    # non-planted neighbors are NOT near-identical
    a, b = rows[10].text.split(), rows[11].text.split()
    assert len(a) != len(b) or sum(x != y for x, y in zip(a, b)) > 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "InMemory" not in plan
