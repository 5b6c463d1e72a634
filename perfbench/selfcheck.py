"""Self-checks of the benchmark's input generators.

For every workload:

1. the same seed twice gives identical ``src_pages`` rows;
2. different seeds give the same page count and byte size;
3. on a small instance, the edges a sequential ``transform_one`` run emits
   equal what the generator expects, through the same check the benchmark
   applies to the pipeline's output.

Run from the repository root (no Spark needed):

    python3 perfbench/selfcheck.py

Exits non-zero and names the failing check when one fails.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

def sequential_triples(corpus):
    """(subj, pred, obj) frame of ``corpus`` built by the sequential
    prescan + ``transform_one`` + edge-row kernels: the single-process
    twin of ``operators.edges.triples_from_transformed``."""
    import pandas as pd

    from wikiprep_spark.functions import edges
    from wikiprep_spark.functions.page import TransformEnv, transform_one
    from wikiprep_spark.functions.prescan import (
        build_redirect_records,
        prescan_pages,
    )
    from wikiprep_spark.sources.mediawiki_xml import parse_page_record

    pages = [parse_page_record(r[4]) for r in corpus.rows]
    pre = prescan_pages(pages)
    env = TransformEnv(pre["title2id"], pre["redir"], pre["templates"])
    # predicate -> (edge-row kernel, subject column, object column)
    kinds = {
        "links_to": (edges.link_rows, 0, 1),
        "anchored_by": (edges.anchor_rows, 0, 1),
        "in_category": (edges.category_rows, 0, 1),
        "related_to": (edges.related_rows, 0, 1),
        "disambiguates": (edges.disambig_rows, 0, 3),
        "links_external": (edges.external_rows, 0, 1),
        "includes_template": (edges.template_inclusion_rows, 0, 1),
    }
    out = []
    for p in pages:
        page = transform_one(p, env)
        if "text" not in page:
            continue
        for pred, (rows, subj, obj) in kinds.items():
            out += [(str(r[subj]), pred, str(r[obj])) for r in rows(page)]
    redirects, _ = build_redirect_records(pre)
    out += [(r["from_id"], "redirects_to", r["to_id"]) for r in redirects]
    return pd.DataFrame(out, columns=["subj", "pred", "obj"])


def main() -> int:
    from perfbench import checks
    from perfbench.workloads import WORKLOADS, generate

    failures = []
    for name in WORKLOADS:
        a, b = generate(name, 1, small=True), generate(name, 1, small=True)
        if a.rows != b.rows:
            failures.append(f"{name}: seed 1 twice gives different pages")
        full = [generate(name, seed) for seed in (1, 2)]
        shapes = {(c.n_pages, c.n_bytes) for c in full}
        if len(shapes) != 1:
            failures.append(f"{name}: seeds 1, 2 differ in (pages, bytes): "
                            f"{sorted(shapes)}")
        small = generate(name, 3, small=True)
        bad = checks.check(small, sequential_triples(small))
        if bad:
            failures.append(f"{name}: sequential edges differ: {bad}")
        print(f"{name}: pages={full[0].n_pages} bytes={full[0].n_bytes} "
              f"{'ok' if not bad else 'FAILED'}", flush=True)
    for f in failures:
        print("FAIL " + f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
