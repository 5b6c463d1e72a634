"""Output check on the ``triples`` table a pipeline run wrote: the triple
count of every predicate and the exact ``links_to`` edge set must equal
what the workload's generator built into its pages."""

from __future__ import annotations

import os


def check(corpus, triples) -> dict:
    """Mismatches of a run's triples against ``corpus``: per-predicate
    count differences, plus the size of the symmetric difference of the
    ``links_to`` sets.  Empty when the output is correct.  ``triples`` is
    the pipeline's partitioned parquet directory, or an in-memory
    (subj, pred, obj, prop) pandas frame."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        if isinstance(triples, str):
            glob = os.path.join(triples, "*", "*.parquet")
            con.execute(
                "CREATE VIEW triples AS SELECT subj, CAST(pred AS VARCHAR) "
                f"AS pred, obj FROM read_parquet('{glob}', "
                "hive_partitioning = true)")
        else:
            con.register("triples", triples)
        counts = dict(con.execute(
            "SELECT pred, count(*) FROM triples GROUP BY pred").fetchall())
        want = corpus.expected
        bad = {p: counts.get(p, 0) - want.get(p, 0)
               for p in set(counts) | set(want)
               if counts.get(p, 0) != want.get(p, 0)}
        con.register("want_links", pd.DataFrame(
            sorted(corpus.links_to), columns=["subj", "obj"]))
        got = "SELECT subj, obj FROM triples WHERE pred = 'links_to'"
        exp = "SELECT subj, obj FROM want_links"
        n = con.execute(
            f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {exp})) + "
            f"(SELECT count(*) FROM ({exp} EXCEPT ALL {got}))").fetchone()[0]
        if n:
            bad["links_to set"] = n
        return bad
    finally:
        con.close()
