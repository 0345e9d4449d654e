"""Seeded input generator for the benchmark, with its answer key.

Pure Python and single-process: it imports nothing from the program
under test, so the program only ever sees the tables and files written
here. One seed always yields byte-identical inputs (``random.Random``
seeded with a string is independent of ``PYTHONHASHSEED``).

What it makes:

- ``vocab_pair``: vocabulary versions A and B. B has thousands of
  concepts, alt labels shared between concepts, and ``skos:exactMatch``
  edges to A (some B concepts merge onto one A concept, so some
  equivalence components have more than two nodes).
- ``make_pages``: Notion-style markdown pages on Zipf-skewed domains,
  each with planted concept mentions and a known HTML-only share. The
  answer key holds every planted span (url, begin, end, concept) and
  the exact text the extractor must produce per url.
- ``make_turtle_dir``: one large vocabulary plus many small ones, as
  Turtle files, with concept depth at most 5 (top concepts render as
  markdown H1, so the deepest concept is H5; the markdown format is
  lossy past heading level 6).

Labels are made of pseudo-words that never occur in the filler text,
so the only vocabulary surfaces in a page are the planted ones.
"""

from __future__ import annotations

import datetime as dt
import html
import random
from dataclasses import dataclass, field

SKOS = "http://www.w3.org/2004/02/skos/core#"
SKOS_PREF_LABEL = SKOS + "prefLabel"
SKOS_BROADER = SKOS + "broader"
SKOS_TOP_CONCEPT_OF = SKOS + "topConceptOf"
HIERARCHY_PREDS = (SKOS_PREF_LABEL, SKOS_BROADER, SKOS_TOP_CONCEPT_OF)

NS_A = "http://bench.example.org/a#"
NS_B = "http://bench.example.org/b#"
NS_DIR = "http://bench.example.org/dir/"

FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident sunt "
    "culpa qui officia deserunt mollit anim id est laborum"
).split()
_FILLER_SET = frozenset(FILLER)
_ONSETS = "b c d f g k l m n p r s t v z br dr gr kr pl st tr".split()
_VOWELS = "a e i o u ae ai ou".split()
_CODAS = ["", "", "", "n", "r", "s", "l", "k"]
N_DOMAINS = 40
_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def rng_for(seed: int, name: str) -> random.Random:
    """An independent stream per artefact, so resizing one input never
    shifts another."""
    return random.Random(f"perfbench:{seed}:{name}")


class _Words:
    """Unique capitalised pseudo-words, disjoint from the filler."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.used: set[str] = set()

    def word(self) -> str:
        while True:
            n = self.rng.choice((2, 3, 3, 4))
            w = "".join(
                self.rng.choice(_ONSETS) + self.rng.choice(_VOWELS)
                for _ in range(n)
            ) + self.rng.choice(_CODAS)
            if w not in self.used and w not in _FILLER_SET:
                self.used.add(w)
                return w.capitalize()

    def label(self) -> str:
        return f"{self.word()} {self.word()}"


# --------------------------------------------------------------------------
# vocabularies
# --------------------------------------------------------------------------


@dataclass
class Concept:
    uri: str
    pref: str
    alts: list[str] = field(default_factory=list)
    parent: str | None = None  # uri of the broader concept
    exact: list[str] = field(default_factory=list)  # exactMatch targets


@dataclass
class Vocab:
    name: str
    scheme_uri: str
    scheme_label: str
    concepts: list[Concept]

    def surfaces(self) -> dict[str, list[str]]:
        """label → uris carrying it (pref or alt)."""
        out: dict[str, list[str]] = {}
        for c in self.concepts:
            for lab in [c.pref, *c.alts]:
                out.setdefault(lab, []).append(c.uri)
        return out


def _ttl_lit(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def to_turtle(v: Vocab) -> str:
    """The vocabulary as Turtle text (deterministic statement order)."""
    out = [
        f"@prefix skos: <{SKOS}> .",
        "",
        f"<{v.scheme_uri}> a skos:ConceptScheme ;",
        f"    skos:prefLabel {_ttl_lit(v.scheme_label)}@en .",
        "",
    ]
    by_uri = {c.uri: c for c in v.concepts}
    for c in v.concepts:
        lines = [
            f"<{c.uri}> a skos:Concept",
            f"skos:prefLabel {_ttl_lit(c.pref)}@en",
            f"skos:definition {_ttl_lit('Definition of ' + c.pref)}@en",
            f"skos:inScheme <{v.scheme_uri}>",
        ]
        lines += [f"skos:altLabel {_ttl_lit(a)}@en" for a in c.alts]
        if c.parent is None:
            lines.append(f"skos:topConceptOf <{v.scheme_uri}>")
        else:
            lines.append(f"skos:broader <{c.parent}>")
        lines += [f"skos:exactMatch <{e}>" for e in c.exact]
        out.append(" ;\n    ".join(lines) + " .")
        if c.parent is None:
            out.append(f"<{v.scheme_uri}> skos:hasTopConcept <{c.uri}> .")
        else:
            assert c.parent in by_uri
            out.append(f"<{c.parent}> skos:narrower <{c.uri}> .")
    return "\n".join(out) + "\n"


def _tree(rng: random.Random, n: int, n_top: int, max_depth: int) -> list[int | None]:
    """Parent index per node (None for top concepts); depth ≤ max_depth."""
    parents: list[int | None] = []
    depth: list[int] = []
    for i in range(n):
        if i < n_top:
            parents.append(None)
            depth.append(1)
            continue
        while True:
            p = rng.randrange(i)
            if depth[p] < max_depth:
                break
        parents.append(p)
        depth.append(depth[p] + 1)
    return parents


SHARED_ALT_SHARE = 0.2  # B concepts that also carry another concept's alt label
MERGE_SHARE = 0.1  # B concepts aligned to the same A concept as the previous one
FILLER_WORDS = 180  # filler words per page, spread between the mentions


def vocab_pair(seed: int, n_b: int) -> tuple[Vocab, Vocab]:
    """(A, B): B is the revised version of A under a new namespace.

    Every B concept has an ``exactMatch`` to an A concept; a
    ``MERGE_SHARE`` of B concepts point at the SAME A concept as the
    previous B concept (merged entries), so some equivalence components
    have more than two nodes. A ``SHARED_ALT_SHARE`` of B concepts carry
    an alt label that another B concept also carries."""
    rng = rng_for(seed, "vocab_pair")
    words = _Words(rng)
    n_a = n_b
    a = [Concept(f"{NS_A}c{i:05d}", words.label()) for i in range(n_a)]
    b = []
    target = 0
    for i in range(n_b):
        if i > 0 and rng.random() < MERGE_SHARE:
            tgt = target  # same A concept as the previous B concept
        else:
            target = i
            tgt = i
        pref = a[i].pref if rng.random() < 0.7 else words.label()
        b.append(
            Concept(f"{NS_B}c{i:05d}", pref, alts=[words.label()], exact=[a[tgt].uri])
        )
    # shared alt labels: concept i also carries an alt label of concept j
    for i in range(n_b):
        if rng.random() < SHARED_ALT_SHARE:
            j = rng.randrange(n_b)
            if j != i and b[j].alts[0] not in b[i].alts:
                b[i].alts.append(b[j].alts[0])
    for vs in (a, b):
        for i, p in enumerate(_tree(rng, len(vs), max(4, len(vs) // 50), 5)):
            vs[i].parent = None if p is None else vs[p].uri
    return (
        Vocab("A", NS_A + "scheme", "Thesaurus A", a),
        Vocab("B", NS_B + "scheme", "Thesaurus B", b),
    )


# --------------------------------------------------------------------------
# pages
# --------------------------------------------------------------------------


@dataclass
class Pages:
    rows: list[dict]  # url, warc_ts, html (bytes), text (str|None), lang
    expected_text: dict[str, str]  # url → text the extractor must yield
    links: set[tuple[str, int, int, str]]  # planted (url, begin, end, uri)

    @property
    def html_only(self) -> int:
        return sum(1 for r in self.rows if r["text"] is None)


def _domain(rng: random.Random) -> str:
    weights = [1.0 / (r + 1) for r in range(N_DOMAINS)]
    r = rng.choices(range(N_DOMAINS), weights=weights)[0]
    return f"d{r:02d}.example.org"


def make_pages(
    seed: int,
    vocab: Vocab,
    n_pages: int,
    mentions_per_page: int,
    html_only_share: float,
) -> Pages:
    """Pages with planted mentions and their answer key.

    A mention plants a concept by its prefLabel or by one of its alt
    labels. An alt-label mention is always preceded on the same page by
    a prefLabel mention of the same concept (the context that lets the
    scorer pick it), and a page never plants two concepts that share a
    surface, so every planted span has exactly one right answer."""
    rng = rng_for(seed, "pages")
    surf = vocab.surfaces()
    rows, expected, links = [], {}, set()
    langs = ["en", "nl", "fr", "de", ""]
    for i in range(n_pages):
        url = f"https://{_domain(rng)}/p/{i:07d}"
        chosen: list[Concept] = []
        blocked: set[str] = set()
        while len(chosen) * 2 < mentions_per_page:
            c = rng.choice(vocab.concepts)
            if c.uri in blocked:
                if len(blocked) >= len(vocab.concepts):
                    break
                continue
            chosen.append(c)
            for lab in [c.pref, *c.alts]:
                blocked.update(surf[lab])
        plan: list[tuple[str, str]] = []  # (surface, uri) in page order
        for c in chosen:
            plan.append((c.pref, c.uri))
            if len(plan) < mentions_per_page:
                plan.append((rng.choice([c.pref, *c.alts]), c.uri))
        plan = plan[:mentions_per_page]

        parts: list[str] = [f"# Page {i:07d}\n\n"]
        pos = len(parts[0])
        gap = max(1, FILLER_WORDS // max(1, len(plan)))
        page_links = []
        for k, (s, uri) in enumerate(plan):
            fill = " ".join(rng.choice(FILLER) for _ in range(gap))
            fill = (".\n\n" if k and k % 6 == 0 else " ") + fill + " "
            parts.append(fill)
            pos += len(fill)
            parts.append(s)
            page_links.append((url, pos, pos + len(s), uri))
            pos += len(s)
        tail = (
            ".\n\n## Notes "
            + f"{i:07d}\n\n_Definition:_ notes for page {i:07d}.  \n"
            + "_Alternative Labels:_ "
            + f"N{i:07d}  \n"
        )
        parts.append(tail)
        text = "".join(parts)
        links.update(page_links)
        page_html = (
            f"<html><head><title>Page {i:07d}</title><!-- crawl {i} -->"
            f"<script>var p = {i};</script></head><body>{html.escape(text)}"
            "</body></html>"
        )
        html_only = rng.random() < html_only_share
        rows.append(
            {
                "url": url,
                "warc_ts": _EPOCH + dt.timedelta(seconds=37 * i),
                "html": page_html.encode("utf-8"),
                "text": None if html_only else text,
                "lang": langs[i % len(langs)],
            }
        )
        expected[url] = text
    return Pages(rows, expected, links)


# --------------------------------------------------------------------------
# Turtle directory
# --------------------------------------------------------------------------


@dataclass
class TurtleDir:
    files: dict[str, str]  # file name → Turtle text
    vocabs: dict[str, Vocab]  # file stem → vocabulary
    largest: str  # file name of the largest vocabulary

    def facts(self) -> set[tuple]:
        """(concept, prefLabel, parent) facts in the shape
        ``metrics.precision_recall`` compares.

        The markdown round trip re-mints URIs from labels, so identity
        is ``minted:<prefLabel>``. The markdown format renders top
        concepts as H1, which reads back as a concept scheme, so the
        hierarchy fact of a child of a top concept is
        ``skos:topConceptOf`` its parent; deeper concepts keep
        ``skos:broader``."""
        out = set()
        for v in self.vocabs.values():
            by_uri = {c.uri: c for c in v.concepts}
            for c in v.concepts:
                me = f"minted:{c.pref}"
                out.add((me, SKOS_PREF_LABEL, c.pref, True, None))
                if c.parent is not None:
                    parent = by_uri[c.parent]
                    pred = SKOS_BROADER if parent.parent is not None else SKOS_TOP_CONCEPT_OF
                    out.add((me, pred, f"minted:{parent.pref}", False, None))
        return out


def make_turtle_dir(
    seed: int, large_concepts: int, n_small: int, small_concepts: int
) -> TurtleDir:
    rng = rng_for(seed, "turtle_dir")
    words = _Words(rng)
    files, vocabs = {}, {}
    sizes = [large_concepts] + [
        rng.randint(small_concepts // 2, small_concepts * 3 // 2) for _ in range(n_small)
    ]
    for k, n in enumerate(sizes):
        stem = f"vocab{k:03d}"
        ns = f"{NS_DIR}{stem}#"
        concepts = [
            Concept(f"{ns}c{i:06d}", words.label(), alts=[words.label()])
            for i in range(n)
        ]
        for i, p in enumerate(_tree(rng, n, max(2, n // 100), 5)):
            concepts[i].parent = None if p is None else concepts[p].uri
        v = Vocab(stem, ns + "scheme", f"Scheme {words.word()}", concepts)
        vocabs[stem] = v
        files[stem + ".ttl"] = to_turtle(v)
    return TurtleDir(files, vocabs, "vocab000.ttl")
