"""Seeded input generators for the kg-pipeline benchmark.

Each generator returns a :class:`Corpus`: the ``src_pages`` rows the
pipeline reads, plus what the generator built into them — the expected
triple count per predicate and the exact ``links_to`` edge set.  The seed
changes page content, never the page count or the byte size of the
source table (numbers are zero-padded and words come from a fixed-width
vocabulary), so every seed asks the pipeline for the same amount of work.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

from wikiprep_spark.sources.mediawiki_xml import make_page_xml

SRC_COLUMNS = ["repo", "path", "commit", "lang", "content"]
REPO = "wiki/perfbench"

# five-letter words that trigger none of the kernel's text heuristics
# (related-article designators, stub/disambiguation markers, date links)
_WORDS = (
    "alpha bravo delta gamma omega sigma tango nexus pixel orbit prism "
    "quark radar solar vivid amber cobra ember flint glyph"
).split()


class Corpus:
    """Generated ``src_pages`` rows and the edges they must produce."""

    def __init__(self, rows, expected, links_to):
        # (repo, path, commit, lang, content) tuples, in dump order
        self.rows = rows
        # predicate -> triple count
        self.expected = expected
        # {(subj, obj)} of the links_to predicate, as page-id strings
        self.links_to = links_to

    @property
    def n_pages(self) -> int:
        return len(self.rows)

    @property
    def n_bytes(self) -> int:
        return sum(len(r[4].encode("utf-8")) for r in self.rows)


def _row(page_id: int, title: str, text: str, lang: str = "wikitext"):
    """A ``src_pages`` row, shaped like ``sources.corpus`` rows but built
    here, so a change to the program's own corpus leaves these inputs
    alone."""
    path = "%010d.xml" % page_id
    commit = hashlib.sha1(("%s/%s" % (REPO, path)).encode()).hexdigest()
    return (REPO, path, commit, lang, make_page_xml(page_id, title, text))


def _rng(seed: int, *key) -> random.Random:
    # str seeds hash through sha512: stable across processes and runs
    return random.Random("%d:%s" % (seed, ":".join(map(str, key))))


# --- heavy-markup ---------------------------------------------------------

HEAVY_ARTICLES = 600
HEAVY_SECTIONS = 8
HEAVY_CATEGORIES = 20

# template id -> (title, body).  Infobox picks a link with #switch; Navbox
# nests two Nav inclusions that nest two Navrow inclusions each (three
# levels), every Navrow emitting a link through #if; Cell emits a plain
# or piped link through #switch; Cite turns into an external link only
# when given a url (#if).
HEAVY_TEMPLATES = {
    10: ("Template:Infobox topic",
         "{| class=\"infobox\"\n|-\n! Name\n| {{{name}}}\n|-\n! Kind\n"
         "| {{#switch:{{{kind}}}|a=[[Topic {{{ref1}}}]]"
         "|b=[[Topic {{{ref2}}}]]|#default=none}}\n|-\n! Year\n"
         "| {{#if:{{{year|}}}|{{{year}}}|unknown}}\n|}"),
    11: ("Template:Navbox",
         "{{Nav|{{{1}}}|{{{2}}}}} / {{Nav|{{{3}}}|{{{4}}}}}"),
    12: ("Template:Nav", "{{Navrow|{{{1}}}}} and {{Navrow|{{{2}}}}}"),
    13: ("Template:Navrow", "{{#if:{{{1|}}}|[[Topic {{{1}}}]]|none}}"),
    14: ("Template:Cell",
         "{{#switch:{{{2|plain}}}|piped=[[Topic {{{1}}}|{{{3}}}]]"
         "|plain=[[Topic {{{1}}}]]|#default=none}}"),
    15: ("Template:Cite",
         "{{#if:{{{url|}}}|[{{{url}}} {{{title}}}]|{{{title}}}}}"),
}


def _words(rng, k):
    return " ".join(rng.choice(_WORDS) for _ in range(k))


def _heavy_article(seed: int, i: int, n: int):
    """Markup of heavy article i and the triples it must yield."""
    rng = _rng(seed, "heavy", i)
    src = 1000 + i
    links = []    # resolved non-self link targets, one per occurrence
    related = []
    n_external = 0
    n_incl = 0    # includes_template triples

    def other():
        j = rng.randrange(n - 1)
        return j + 1 if j >= i else j

    def link(piped: bool):
        j = other()
        links.append(1000 + j)
        if piped:
            return "[[Topic %04d|%s]]" % (j, _words(rng, 2))
        return "[[Topic %04d]]" % j

    kind = rng.choice("abc")
    ref1, ref2 = other(), other()
    if kind == "a":
        links.append(1000 + ref1)
    elif kind == "b":
        links.append(1000 + ref2)
    n_incl += 5
    out = [
        "'''Topic %04d''' is a heavy synthetic article about %s."
        % (i, _words(rng, 3)),
        "{{Infobox topic|name=Topic %04d|kind=%s|ref1=%04d|ref2=%04d"
        "|year=%04d}}" % (i, kind, ref1, ref2, 1900 + rng.randrange(100)),
    ]
    for s in range(HEAVY_SECTIONS):
        out.append("== Part %d ==" % (s + 1))
        sentence = []
        for k in range(10):
            sentence.append(_words(rng, 3))
            if k % 4 == 3:
                # a red link: the title exists nowhere in the corpus
                sentence.append("[[Draft %04d]]" % rng.randrange(10000))
            else:
                sentence.append(link(piped=k % 3 == 0))
        out.append(" ".join(sentence) + ".")
        nav = [other() for _ in range(4)]
        links += [1000 + j for j in nav]
        # Navbox's 4 params, 2 Nav x 2 params, 4 Navrow x 1 param
        n_incl += 4 + 4 + 4
        out.append("Navigation: {{Navbox|%04d|%04d|%04d|%04d}}." % tuple(nav))
        out.append(
            "{{Cite|url=http://ref.example.org/%04d/%d|title=%s}} and "
            "{{Cite|title=%s}}." % (i, s, _words(rng, 2), _words(rng, 2)))
        n_incl += 2 + 1
        n_external += 1
        out.append("{| class=\"wikitable\"\n|-\n! Name !! Link !! Note")
        for _r in range(3):
            a, b = other(), other()
            links += [1000 + a, 1000 + b]
            n_incl += 1 + 3  # Cell params: 1 plain, 3 piped
            out.append("|-\n| %s || {{Cell|%04d}} || {{#if:%s|%s|none}} "
                       "|| {{Cell|%04d|piped|%s}}"
                       % (_words(rng, 1), a, _words(rng, 1),
                          _words(rng, 1), b, _words(rng, 2)))
        out.append("|}")
        # parser functions alone: template-engine work with no triples
        for _r in range(10):
            out.append(
                "Status: {{#if:%s|{{#switch:%s|alpha=one|bravo=two|delta="
                "three|gamma=four|omega=five|#default={{#if:%s|six|seven}}"
                "}}|none}}." % (_words(rng, 1), _words(rng, 1),
                                _words(rng, 1)))
        out.append("Source [http://www.example.com/%04d/%d %s] and mirror "
                   "http://bare.example.net/%04d/%d here."
                   % (i, s, _words(rng, 2), i, s))
        n_external += 2
    out.append("== See also ==")
    for _r in range(4):
        j = other()
        links.append(1000 + j)
        related.append(1000 + j)
        out.append("* [[Topic %04d]]" % j)
    out.append("== Notes ==")
    cats = rng.sample(range(HEAVY_CATEGORIES), 3)
    out.append(" ".join("[[Category:Field %02d]]" % c for c in cats))
    counts = Counter({
        "anchored_by": len(links),
        "links_to": len(set(links)),
        "in_category": len(cats),
        "related_to": len(set(related)),
        "links_external": n_external,
        "includes_template": n_incl,
    })
    return "\n".join(out), counts, {(str(src), str(t)) for t in links}


def heavy_markup(seed: int, n: int = HEAVY_ARTICLES) -> Corpus:
    """KB-scale pages with nested templates (#if/#switch), tables, 100+
    links, categories and URLs against a small title dictionary: the
    per-page kernel does most of the work."""
    rows = [_row(tid, title, body)
            for tid, (title, body) in HEAVY_TEMPLATES.items()]
    rows += [_row(100 + c, "Category:Field %02d" % c,
                  "Pages about field %02d." % c)
             for c in range(HEAVY_CATEGORIES)]
    expected = Counter()
    links_to = set()
    for i in range(n):
        text, counts, edges = _heavy_article(seed, i, n)
        rows.append(_row(1000 + i, "Topic %04d" % i, text))
        expected += counts
        links_to |= edges
    return Corpus(rows, dict(expected), links_to)


# --- redirect-heavy -------------------------------------------------------

REDIRECT_ARTICLES = 4000
REDIRECTS_PER_ARTICLE = 10
REDIRECT_LINKS = 5
REDIRECT_CATEGORIES = 10


def redirect_heavy(seed: int, n: int = REDIRECT_ARTICLES,
                   r: int = REDIRECTS_PER_ARTICLE) -> Corpus:
    """Light articles, each behind ``r`` alias redirects, linking to each
    other only through those aliases: a title dictionary of ~n*(r+1)
    entries, and a kernel that short-circuits on most pages."""
    rows = [_row(100 + c, "Category:Group %02d" % c,
                 "Entries of group %02d." % c)
            for c in range(REDIRECT_CATEGORIES)]
    links_to = set()
    n_links = 0
    for i in range(n):
        rng = _rng(seed, "redirect", i)
        targets = []
        for _k in range(REDIRECT_LINKS):
            j = rng.randrange(n - 1)
            targets.append(j + 1 if j >= i else j)
        parts = ["[[Alias %05d-%d|%s]]" % (j, rng.randrange(r),
                                            _words(rng, 2))
                 if k % 2 else "[[Alias %05d-%d]]" % (j, rng.randrange(r))
                 for k, j in enumerate(targets)]
        text = ("'''Entry %05d''' is a light entry about %s. It links to %s."
                "\n[[Category:Group %02d]]"
                % (i, _words(rng, 2), ", ".join(parts),
                   rng.randrange(REDIRECT_CATEGORIES)))
        rows.append(_row(1000 + i, "Entry %05d" % i, text))
        n_links += len(targets)
        links_to |= {(str(1000 + i), str(1000 + j)) for j in targets}
        for a in range(r):
            rows.append(_row(1000 + n + i * r + a, "Alias %05d-%d" % (i, a),
                             "#REDIRECT [[Entry %05d]]" % i))
    expected = {
        "links_to": len(links_to),
        "anchored_by": n_links,
        "in_category": n,
        "redirects_to": n * r,
    }
    return Corpus(rows, expected, links_to)


WORKLOADS = {
    "heavy-markup": heavy_markup,
    "redirect-heavy": redirect_heavy,
}


# small instances (generator kwargs): every construct of the workload, at
# a size where fixed costs dominate — for warm-up runs and self-checks
SMALL = {"heavy-markup": {"n": 40}, "redirect-heavy": {"n": 300}}


def generate(name: str, seed: int, small: bool = False) -> Corpus:
    return WORKLOADS[name](seed, **(SMALL[name] if small else {}))


def write_src(rows, path: str, n_files: int = 8) -> None:
    """Materialize ``src_pages`` rows as parquet files of contiguous dump
    order.  Each file becomes one scan partition, so 8 files give every
    python stage several waves of tasks per slot: one slow task does not
    set the stage's time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * step:(f + 1) * step]
        table = pa.table({c: [r[k] for r in chunk]
                          for k, c in enumerate(SRC_COLUMNS)})
        pq.write_table(table, os.path.join(path, "part-%05d.parquet" % f))
