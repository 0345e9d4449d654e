"""High-level API: batch directory conversion — every ttl fixture
converted in ONE job, each output byte-identical to its golden; the
validation gate (D7); reverse batch to a pred-partitioned triples table."""

from __future__ import annotations

import pytest

from skosconverter_spark.api import (
    ValidationError,
    convert_directory,
    notion_to_skos,
    skos_to_notion,
)
from skosconverter_spark.config import EngineConfig
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

from .conftest import (
    DATA,
    load_fixture_text,
    load_golden_bytes,
    md_fixture_names,
    ttl_fixture_names,
)

# reference's own sibling order for vocab_dup is a hash-seed artifact
AMBIGUOUS = {"vocab_dup"}


def test_batch_convert_matches_goldens(spark, tmp_path):
    out = str(tmp_path / "out")
    status = convert_directory(spark, str(DATA), out, fmt="csv", operation="skos2notion")
    rows = {r.url: r.status for r in status.collect()}
    assert all(s == "ok" for s in rows.values())
    for name in ttl_fixture_names():
        got = (tmp_path / "out" / f"{name}.csv").read_bytes()
        golden = load_golden_bytes(name, "out.csv")
        if name in AMBIGUOUS:
            assert sorted(got.splitlines()) == sorted(golden.splitlines()), name
        else:
            assert got == golden, name


def test_batch_reverse_writes_graph_table(spark, tmp_path):
    out = str(tmp_path / "rev")
    status = convert_directory(
        spark, str(DATA), out, operation="notion2skos",
        config=EngineConfig(bug_compat=False),
    )
    assert status.filter("status = 'error'").count() == 0
    triples = spark.read.parquet(f"{out}/triples")
    assert triples.count() > 0
    assert "pred" in triples.columns


def test_validation_gate_raises_and_forces(spark):
    docs = spark.createDataFrame(
        [("v", "v", "ttl", load_fixture_text("vocab_selfref"))], schema=DOCS
    )
    triples = ok_triples(extract_triples(docs, EngineConfig())).cache()
    with pytest.raises(ValidationError) as exc:
        skos_to_notion(triples, "csv")
    assert any("itself as broader" in i for i in exc.value.issues)
    text, issues, _ = skos_to_notion(triples, "csv", force=True)
    assert text.startswith("Title,") and issues
    text2, issues2, _ = skos_to_notion(triples, "csv", skip_validation=True)
    assert text2 == text and issues2 == []
    triples.unpersist()


def test_notion_to_skos_api(spark):
    docs = spark.createDataFrame(
        [(n, n, "md", load_fixture_text(n)) for n in md_fixture_names()], schema=DOCS
    )
    triples, errors = notion_to_skos(docs, EngineConfig(bug_compat=True))
    assert errors.count() == 0
    assert triples.count() > 0


def test_driver_size_guards_trip(spark):
    """render.py:guard_driver_sized — misusing a driver-sized path on a
    corpus-sized table fails loudly instead of OOMing the driver."""
    from skosconverter_spark.operators.export import export_turtle_text
    from skosconverter_spark.operators.render import (
        collect_triples,
        guard_driver_sized,
        render_document_text,
    )

    big = spark.range(50).selectExpr(
        "cast(id as string) subj", "'p' pred", "'o' obj",
        "true obj_is_literal", "cast(null as string) obj_lang",
        "'u' src_url", "id seq",
    )
    with pytest.raises(ValueError, match="gated at 10 rows"):
        guard_driver_sized(big, "test", 10)
    with pytest.raises(ValueError):
        collect_triples(big, max_rows=10)
    with pytest.raises(ValueError):
        export_turtle_text(big, max_rows=10)
    # under the gate: passes through
    assert len(collect_triples(big.limit(5), max_rows=10)) == 5
    # render path: the guard fires before any row is pulled to the driver
    with pytest.raises(ValueError):
        render_document_text(big.selectExpr("subj"), "csv", max_rows=10)


def _counting(spark):
    """(accumulator, mapInPandas fn) counting the rows that pass by —
    once per evaluation of the plan below the counter."""
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    return seen, count_rows


def test_collect_triples_evaluates_input_once(spark):
    """The driver-size gate and the transfer share one bounded pass: the
    input plan (parse included) runs once, not once to count and again
    to collect."""
    from skosconverter_spark.operators.render import collect_triples

    seen, count_rows = _counting(spark)
    docs = spark.createDataFrame(
        [("v", "v", "ttl", load_fixture_text("vocab_basic"))], schema=DOCS
    ).mapInPandas(count_rows, DOCS)
    assert collect_triples(ok_triples(extract_triples(docs, EngineConfig())))
    assert seen.value == 1


def test_convert_directory_renders_once(spark, tmp_path, monkeypatch):
    """Batch skos2notion runs parse → DFS → render once: the per-file
    cap must not re-evaluate the rendered table before collecting it."""
    import skosconverter_spark.api as api

    seen, count_rows = _counting(spark)
    render_documents = api.render_documents

    def counted(*args, **kwargs):
        out = render_documents(*args, **kwargs)
        return out.mapInPandas(count_rows, out.schema)

    monkeypatch.setattr(api, "render_documents", counted)
    src = tmp_path / "in"
    src.mkdir()
    names = ["vocab_basic", "vocab_nolang"]
    for n in names:
        (src / f"{n}.ttl").write_text(load_fixture_text(n), encoding="utf-8")
    status = api.convert_directory(spark, str(src), str(tmp_path / "out"), fmt="csv")
    assert seen.value == len(names)
    assert {r.status for r in status.collect()} == {"ok"}
