"""The generator: deterministic per seed, different across seeds, and
its answer key consistent with the inputs it writes."""

import hashlib
import html
import re

import gen


def _all(seed):
    a, b = gen.vocab_pair(seed, 120)
    pages = gen.make_pages(seed, b, 40, 12, 0.4)
    tdir = gen.make_turtle_dir(seed, 60, 3, 10)
    return a, b, pages, tdir


def _digest(seed):
    """sha256 over every byte the generator hands the program, plus the key."""
    a, b, pages, tdir = _all(seed)
    inputs = (gen.to_turtle(a), gen.to_turtle(b), pages.rows, sorted(pages.links), tdir.files)
    return hashlib.sha256(repr(inputs).encode("utf-8")).hexdigest()


def test_same_seed_same_bytes():
    assert _digest(7) == _digest(7)


def test_seed_changes_inputs_at_fixed_size():
    a7, b7, p7, t7 = _all(7)
    a8, b8, p8, t8 = _all(8)
    assert _digest(7) != _digest(8)
    assert gen.to_turtle(b7) != gen.to_turtle(b8)
    assert [r["html"] for r in p7.rows] != [r["html"] for r in p8.rows]
    assert t7.files != t8.files
    # ... while every size stays put
    assert len(b7.concepts) == len(b8.concepts)
    assert len(p7.rows) == len(p8.rows)
    assert len(p7.links) == len(p8.links) == 40 * 12
    assert {k: len(v.concepts) for k, v in t7.vocabs.items()}.keys() == t8.vocabs.keys()


def test_planted_spans_are_the_labels_of_their_concept():
    _, b, pages, _ = _all(3)
    labels = {c.uri: {c.pref, *c.alts} for c in b.concepts}
    for url, begin, end, uri in pages.links:
        assert pages.expected_text[url][begin:end] in labels[uri]


def test_each_planted_surface_has_one_answer_on_its_page():
    _, b, pages, _ = _all(3)
    owners = b.surfaces()
    by_page = {}
    for url, begin, end, uri in pages.links:
        by_page.setdefault(url, set()).add(uri)
    for url, begin, end, uri in pages.links:
        surface = pages.expected_text[url][begin:end]
        assert set(owners[surface]) & by_page[url] == {uri}


def test_no_label_token_occurs_outside_planted_spans():
    _, b, pages, _ = _all(4)
    tokens = {t.lower() for c in b.concepts for lab in (c.pref, *c.alts) for t in lab.split()}
    for url, text in pages.expected_text.items():
        spans = sorted((s, e) for u, s, e, _ in pages.links if u == url)
        rest, pos = [], 0
        for s, e in spans:
            rest.append(text[pos:s])
            pos = e
        rest.append(text[pos:])
        words = {w.lower() for w in re.findall(r"\w+", " ".join(rest))}
        assert not words & tokens


def test_html_carries_the_expected_text():
    _, _, pages, _ = _all(5)
    assert 0 < pages.html_only < len(pages.rows)
    for r in pages.rows:
        body = r["html"].decode().split("<body>", 1)[1].rsplit("</body>", 1)[0]
        assert html.unescape(body) == pages.expected_text[r["url"]]
        if r["text"] is not None:
            assert r["text"] == pages.expected_text[r["url"]]


def test_alignment_edges_point_into_version_a():
    a, b, _, _ = _all(6)
    a_uris = {c.uri for c in a.concepts}
    targets = [e for c in b.concepts for e in c.exact]
    assert len(targets) == len(b.concepts) and set(targets) <= a_uris
    # merged entries: some A concept is the target of two B concepts
    assert len(set(targets)) < len(targets)
    # alt labels shared across concepts
    alts = [alt for c in b.concepts for alt in c.alts]
    assert len(set(alts)) < len(alts)


def test_turtle_dir_depth_stays_within_heading_level_6():
    _, _, _, tdir = _all(2)
    assert tdir.largest == "vocab000.ttl"
    for v in tdir.vocabs.values():
        parent = {c.uri: c.parent for c in v.concepts}
        for c in v.concepts:
            depth, u = 1, c.uri
            while parent[u] is not None:
                u, depth = parent[u], depth + 1
            assert depth <= 5  # top concept = H1 … depth 5 = H5 (< H6)
