"""Web-scale KG pipeline stages on the synthesized pages corpus:
extraction invariant, mention detection known answers, linking,
canonicalization closure, checkpoint/resume, lineage metrics, and the
stage catalog's crash consistency."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from skosconverter_spark.config import EngineConfig, OWL_SAME_AS, SKOS_EXACT_MATCH
from skosconverter_spark.kg.canonicalize import (
    canonicalize_triples,
    connected_components,
    equivalence_edges,
    transitive_closure,
)
from skosconverter_spark.kg.catalog import StageCatalog
from skosconverter_spark.kg.extract import extract_text
from skosconverter_spark.kg.mentions import mention_candidates, scan_mentions
from skosconverter_spark.kg.pipeline import run_pipeline
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.pages import VOCAB_CONCEPTS, page_record, synthesize_pages
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

N_PAGES = 120


def vocab_ttl() -> str:
    lines = ["@prefix skos: <http://www.w3.org/2004/02/skos/core#> ."]
    ns = "http://example.org/kg#"
    lines.append(f"<{ns}scheme> a skos:ConceptScheme ; skos:prefLabel \"Things\"@en .")
    for key, label, alts in VOCAB_CONCEPTS:
        lines.append(f'<{ns}{key}> a skos:Concept ; skos:prefLabel "{label}"@en .')
        for a in alts:
            lines.append(f'<{ns}{key}> skos:altLabel "{a}" .')
    return "\n".join(lines)


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, N_PAGES, partitions=4).cache()


@pytest.fixture(scope="module")
def vocab(spark):
    docs = spark.createDataFrame([("v", "v", "ttl", vocab_ttl())], schema=DOCS)
    return ok_triples(extract_triples(docs, EngineConfig())).cache()


def test_pages_deterministic_and_skewed(pages, spark):
    again = synthesize_pages(spark, N_PAGES, partitions=7)  # different partitioning
    a = {r.url: (r.text, bytes(r.html)) for r in pages.collect()}
    b = {r.url: (r.text, bytes(r.html)) for r in again.collect()}
    assert a == b
    domains = (
        pages.withColumn("d", F.split_part(F.col("url"), F.lit("/"), F.lit(3)))
        .groupBy("d").count().collect()
    )
    counts = sorted((r["count"] for r in domains), reverse=True)
    assert counts[0] >= 4 * counts[-1]  # Zipf skew present


def test_extract_text_byte_identical_per_url(pages):
    extracted = {r.url: r.text for r in extract_text(pages).collect()}
    for i in range(N_PAGES):
        rec = page_record(i)
        assert extracted[rec["url"]] == rec["_expected_text"], rec["url"]
        # the invariant the harness checks: stable sha256 per url
        assert hashlib.sha256(extracted[rec["url"]].encode()).hexdigest()


def test_mentions_find_known_concepts(spark, pages, vocab):
    pt = extract_text(pages)
    cands = mention_candidates(scan_mentions(pt, vocab), vocab)
    got = {
        (r.url, r.concept_uri.rsplit("#", 1)[1])
        for r in cands.select("url", "concept_uri").distinct().collect()
    }
    for i in range(N_PAGES):
        rec = page_record(i)
        for key in rec["_concepts"]:
            assert (rec["url"], key) in got, f"missing mention {key} in {rec['url']}"


def test_multiword_and_altlabel_mentions(spark, vocab):
    pt = spark.createDataFrame(
        [("u1", "A canine and a feline met; Mammalia rejoiced.")], "url string, text string"
    )
    cands = mention_candidates(scan_mentions(pt, vocab), vocab)
    keys = {r.concept_uri.rsplit("#", 1)[1] for r in cands.collect()}
    assert {"dog", "cat", "mammal"} <= keys


def test_connected_components_and_closure(spark):
    rows = [
        ("a", SKOS_EXACT_MATCH, "b"),
        ("b", OWL_SAME_AS, "c"),
        ("x", SKOS_EXACT_MATCH, "y"),
    ]
    t = spark.createDataFrame(
        [(s, p, o, False, None, "u", i) for i, (s, p, o) in enumerate(rows)],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )
    comp = {r.uri: r.component for r in connected_components(equivalence_edges(t)).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"

    edges = spark.createDataFrame(
        [("c1", "p1"), ("p1", "g1"), ("g1", "r1")], "child string, parent string"
    )
    reach = {(r.descendant, r.ancestor) for r in transitive_closure(edges).collect()}
    assert ("c1", "r1") in reach and ("c1", "g1") in reach and len(reach) == 6


def test_canonicalize_rewrites_aliases(spark):
    P = "http://example.org/p#knows"
    rows = [
        ("a", SKOS_EXACT_MATCH, "b", False),
        ("b", P, "z", False),
        ("a", P, "z", False),
    ]
    t = spark.createDataFrame(
        [(s, p, o, lit, None, "u", i) for i, (s, p, o, lit) in enumerate(rows)],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, src_url string, seq long",
    )
    out = canonicalize_triples(t)
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    # b collapses into a; duplicate edges dedup; self-loop equivalence dropped
    assert got == {("a", P, "z")}


def test_pipeline_end_to_end_and_resume(spark, pages, vocab, tmp_path):
    root = str(tmp_path / "kg")
    out = run_pipeline(spark, pages, vocab, root, partitions=4)
    assert out["links"].count() > 0
    assert out["triples"].count() > 0
    # per-partition lineage metrics exist for every stage
    stages = {r.stage for r in out["metrics"].select("stage").distinct().collect()}
    assert {"10_extract", "20_mentions", "30_links", "40_page_triples", "50_canonical"} <= stages

    # resume: second run must reuse checkpoints (same fingerprints)
    import time

    t0 = time.time()
    out2 = run_pipeline(spark, pages, vocab, root, partitions=4)
    resume_s = time.time() - t0
    assert out2["triples"].count() == out["triples"].count()
    assert resume_s < 30, f"resume took {resume_s:.1f}s — checkpoints not reused?"


def test_pipeline_unpersisted_intermediates_identical(spark, pages, vocab, tmp_path):
    """persist_intermediate=False keeps 20_mentions/40_page_triples
    executor-local: same results, lineage metrics still present, and no
    parquet checkpoint written for those stages."""
    persisted = run_pipeline(
        spark, pages, vocab, str(tmp_path / "kg_p"), partitions=4
    )
    local = run_pipeline(
        spark,
        pages,
        vocab,
        str(tmp_path / "kg_l"),
        partitions=4,
        persist_intermediate=False,
    )
    key = lambda df: sorted(
        (r.subj, r.pred, r.obj, r.obj_lang) for r in df.collect()
    )
    assert key(local["triples"]) == key(persisted["triples"])
    assert local["links"].count() == persisted["links"].count()
    for stage in ("20_mentions", "40_page_triples"):
        base = tmp_path / "kg_l" / stage
        assert not list(base.glob("data*"))
        assert not (base / "_MANIFEST.json").exists()
        assert (base / "metrics").exists()
    stages = {r.stage for r in local["metrics"].select("stage").distinct().collect()}
    assert {"10_extract", "20_mentions", "30_links", "40_page_triples", "50_canonical"} <= stages


def test_salted_repartition_bounds_skew(spark, pages):
    from skosconverter_spark.kg.extract import salted_repartition

    # the corpus is domain-skewed (test_pages_deterministic_and_skewed:
    # the hottest domain holds ≥4x the coldest's rows); after salted
    # url-hash repartitioning every partition must sit near the mean
    salted = salted_repartition(pages, 8)
    salt_sizes = [
        r["count"]
        for r in salted.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    mean = sum(salt_sizes) / len(salt_sizes)
    assert max(salt_sizes) <= 1.6 * mean, f"salted partitions skewed: {salt_sizes}"
    assert min(salt_sizes) >= 0.4 * mean, f"salted partitions skewed: {salt_sizes}"


# ---------------------------------------------------------------------------
# StageCatalog: immutable data directories behind an atomic manifest swap
# ---------------------------------------------------------------------------


def _ids(spark, n):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_catalog_adapter_seam(spark, tmp_path):
    """StageRunner delegates storage and commit to its catalog: stage =
    commit, resume = fingerprint match on the committed manifest (no
    rebuild), lineage = footer row counts of the data directory the
    commit names."""
    from skosconverter_spark.kg.pipeline import StageRunner, fingerprint_of

    docs = _ids(spark, 100)
    runner = StageRunner(spark, str(tmp_path / "kg"), catalog=StageCatalog())
    fp = fingerprint_of(docs, ["doc_id"])
    assert runner.run_stage("10_extract", fp, lambda: docs).count() == 100
    calls = []
    out2 = runner.run_stage("10_extract", fp, lambda: calls.append(1) or docs)
    assert out2.count() == 100 and not calls, "matching commit must resume"
    m = runner.stage_metrics()
    assert m.count() > 0
    assert m.agg(F.sum("rows_out")).collect()[0][0] == 100


def test_stage_catalog_rebuild_and_orphans(spark, tmp_path):
    """Changed input -> rebuild into a new data directory, the old one
    is deleted at commit; an uncommitted write is an orphan no restart
    resolves (a crash between write and commit must not satisfy
    resume)."""
    from skosconverter_spark.kg.pipeline import StageRunner, fingerprint_of

    base = tmp_path / "kg" / "10_extract"
    v1, v2 = _ids(spark, 10), _ids(spark, 25)
    runner = StageRunner(spark, str(tmp_path / "kg"))
    fp1, fp2 = fingerprint_of(v1, ["doc_id"]), fingerprint_of(v2, ["doc_id"])
    runner.run_stage("10_extract", fp1, lambda: v1)
    runner.run_stage("10_extract", fp2, lambda: v2)  # input changed: rebuild
    cat = runner.catalog
    assert cat.committed_fingerprint(base) == fp2
    assert cat.read(spark, base).count() == 25
    manifest = json.loads((base / "_MANIFEST.json").read_text())
    assert manifest["rows"] == 25 and manifest["data"] == "data-2"
    assert sorted(p.name for p in base.glob("data*")) == ["data-2"]
    # crash simulation: write without commit, then a fresh catalog
    # (process restart) must still resolve the committed directory
    assert cat.write(_ids(spark, 3), base) == "data-3"
    fresh = StageCatalog()
    assert fresh.committed_fingerprint(base) == fp2
    assert fresh.read(spark, base).count() == 25, "orphan must be invisible"
    # the next write never reuses the orphan's name
    assert fresh.write(_ids(spark, 4), base) == "data-4"


def test_partitioned_write_lineage_not_empty(spark, tmp_path):
    """A partitioned write lands its files under key=value/
    subdirectories; its lineage must still count every row."""
    from skosconverter_spark.kg.pipeline import StageRunner

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)], "id long, pred string"
    )
    runner = StageRunner(spark, str(tmp_path / "kg"))
    out = runner.run_stage("60_graph", "fp", lambda: df, partition_by=("pred",))
    assert out.count() == 30
    base = tmp_path / "kg" / "60_graph"
    assert sorted(p.name for p in (base / "data-1").glob("pred=*")) == [
        "pred=a", "pred=b", "pred=c"
    ]
    assert json.loads((base / "_MANIFEST.json").read_text())["rows"] == 30
    assert runner.stage_metrics().agg(F.sum("rows_out")).collect()[0][0] == 30


def test_uncommitted_write_invisible_to_fresh_catalog(spark, tmp_path):
    """A write that was never committed is exactly the state the
    protocol exists to hide: no catalog resolves it until its commit."""
    base = tmp_path / "t"
    writer = StageCatalog()
    name = writer.write(_ids(spark, 5), base)  # staged, never committed
    fresh = StageCatalog()
    assert fresh.committed_fingerprint(base) is None
    with pytest.raises(FileNotFoundError, match="no committed stage"):
        fresh.read(spark, base)
    writer.commit(base, name, "t", "fp", 5, 0)
    assert fresh.committed_fingerprint(base) == "fp"
    assert fresh.read(spark, base).count() == 5


def test_resume_after_uncommitted_write_serves_committed_rows(spark, tmp_path):
    """Commit F1 with 10 rows, then write 3 rows and crash before the
    commit: resume at F1 must load the committed 10 rows, not rebuild
    and not serve the uncommitted 3."""
    from skosconverter_spark.kg.pipeline import StageRunner

    runner = StageRunner(spark, str(tmp_path / "kg"))
    runner.run_stage("s", "F1", lambda: _ids(spark, 10))
    runner.catalog.write(_ids(spark, 3), tmp_path / "kg" / "s")
    calls = []
    out = StageRunner(spark, str(tmp_path / "kg")).run_stage(
        "s", "F1", lambda: calls.append(1) or _ids(spark, 99)
    )
    assert out.count() == 10 and not calls


def test_failed_forced_rebuild_keeps_committed_stage(spark, tmp_path):
    """A forced rebuild whose write job fails must leave the previous
    commit readable: resume at its fingerprint serves its rows."""
    from skosconverter_spark.kg.pipeline import StageRunner

    runner = StageRunner(spark, str(tmp_path / "kg"))
    runner.run_stage("s", "F1", lambda: _ids(spark, 10))
    boom = _ids(spark, 5).select(
        F.raise_error(F.lit("injected")).cast("long").alias("doc_id")
    )
    forced = StageRunner(spark, str(tmp_path / "kg"), force=True)
    with pytest.raises(Exception, match="injected"):
        forced.run_stage("s", "F1", lambda: boom)
    calls = []
    out = StageRunner(spark, str(tmp_path / "kg")).run_stage(
        "s", "F1", lambda: calls.append(1) or _ids(spark, 99)
    )
    assert out.count() == 10 and not calls


PIPELINE_TABLES = ("pages_text", "mentions", "links", "page_triples", "triples", "graph")


def _sorted_rows(out):
    return {t: sorted(repr(tuple(r)) for r in out[t].collect()) for t in PIPELINE_TABLES}


@pytest.fixture(scope="module")
def clean_run(spark, pages, vocab, tmp_path_factory):
    root = tmp_path_factory.mktemp("kg_clean")
    return _sorted_rows(run_pipeline(spark, pages, vocab, str(root), partitions=4))


@pytest.mark.parametrize(
    "failing",
    ["10_extract", "20_mentions", "30_links", "40_page_triples", "50_canonical", "60_graph"],
)
def test_commit_crash_then_resume_matches_clean_run(
    spark, pages, vocab, tmp_path, monkeypatch, clean_run, failing
):
    """A crash between one stage's write and its commit fails the run;
    rerunning on the same root rebuilds that stage, resumes the others,
    and returns exactly the clean run's rows."""
    root = tmp_path / "kg"
    commit = StageCatalog.commit

    def crashing_commit(self, base, name, stage, *args):
        if stage == failing:
            raise RuntimeError(f"injected crash before committing {stage}")
        return commit(self, base, name, stage, *args)

    monkeypatch.setattr(StageCatalog, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, pages, vocab, str(root), partitions=4)
    assert list((root / failing).glob("data-*")), "the write must precede the crash"
    assert not (root / failing / "_MANIFEST.json").exists()
    monkeypatch.undo()

    out = run_pipeline(spark, pages, vocab, str(root), partitions=4)
    assert _sorted_rows(out) == clean_run
    # the commit deleted the orphan: one data directory per stage
    assert [p.name for p in (root / failing).glob("data-*")] == ["data-2"]


def test_pipeline_adversarial_pages(spark, vocab, tmp_path):
    """Nulls, empties, and a pathological page must not break the
    pipeline: null html -> empty text; empty text -> no mentions; a
    500 KB single page flows through the Arrow stages."""
    import datetime as dt

    from skosconverter_spark.schemas import PAGES

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("http://x.test/null-html", ts, None, None, "en"),
        ("http://x.test/empty-html", ts, b"", None, "en"),
        ("http://x.test/huge", ts,
         ("<html><body>" + "<p>the dog saw the dog. </p>" * 20000 + "</body></html>").encode(),
         None, "en"),
        ("http://x.test/no-vocab", ts, b"<html><body><p>zzz qqq</p></body></html>", None, None),
    ]
    pages = spark.createDataFrame(rows, PAGES)
    out = run_pipeline(spark, pages, vocab, str(tmp_path / "kg_adv"), partitions=2)
    texts = {r.url: r.text for r in out["pages_text"].collect()}
    assert set(texts) == {r[0] for r in rows}
    # contract: null html -> null text, empty html -> "" (both flow
    # through the scan/parse stages, which skip falsy text)
    assert texts["http://x.test/null-html"] is None
    assert texts["http://x.test/empty-html"] == ""
    assert len(texts["http://x.test/huge"]) > 100_000
    # mentions only on the page that contains vocabulary
    urls_with_mentions = {r.url for r in out["mentions"].select("url").distinct().collect()}
    assert urls_with_mentions == {"http://x.test/huge"}
    assert out["triples"].count() > 0  # vocabulary triples survive canonicalization
