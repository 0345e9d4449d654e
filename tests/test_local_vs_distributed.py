"""Differential test: the grouped-map transport (document_rows: the local
DFS kernel inside applyInPandas, one group per vocabulary) and the
driver-local call (render_text_local) must render byte-identical
documents on every ttl fixture and on a hierarchy deeper than any
iteration cap — so moving the kernel onto executors can never change
the output. Plus the fail-closed contract for oversized vocabularies."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException

from skosconverter_spark.config import EngineConfig
from skosconverter_spark.operators import render
from skosconverter_spark.operators.render import (
    document_rows,
    render_document_text,
    render_text_local,
)
from skosconverter_spark.schemas import DOCS
from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

from .conftest import load_fixture_text, ttl_fixture_names

FMTS = ["csv", "md", "json", "xml"]
SKOS = "http://www.w3.org/2004/02/skos/core#"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
CHAIN_DEPTH = 30


def chain_ttl(depth: int) -> str:
    """One scheme whose single top concept heads a ``depth``-level
    skos:broader chain (c00 ← c01 ← ... ← c{depth-1})."""
    ex = "http://example.org/chain#"
    lines = [
        f"<{ex}s> {RDF_TYPE} <{SKOS}ConceptScheme> .",
        f'<{ex}s> <{SKOS}prefLabel> "Chain"@en .',
        f"<{ex}s> <{SKOS}hasTopConcept> <{ex}c00> .",
    ]
    for i in range(depth):
        c = f"<{ex}c{i:02d}>"
        lines += [f"{c} {RDF_TYPE} <{SKOS}Concept> .", f'{c} <{SKOS}prefLabel> "C{i:02d}"@en .']
        if i:
            lines.append(f"{c} <{SKOS}broader> <{ex}c{i - 1:02d}> .")
    return "\n".join(lines) + "\n"


def _triples(spark, name: str, text: str):
    docs = spark.createDataFrame([(name, name, "ttl", text)], schema=DOCS)
    return ok_triples(extract_triples(docs, EngineConfig()))


@pytest.fixture(scope="module")
def rendered(spark):
    """(input, fmt) -> (driver-local text, grouped-map text); each
    input's row table is built once and rendered in every format."""
    cfg = EngineConfig()
    inputs = [(n, load_fixture_text(n)) for n in ttl_fixture_names()]
    inputs.append(("chain30", chain_ttl(CHAIN_DEPTH)))
    out = {}
    for name, text in inputs:
        triples = _triples(spark, name, text).cache()
        rows = document_rows(triples, cfg).cache()
        for fmt in FMTS:
            out[(name, fmt)] = (
                render_text_local(triples, fmt, cfg),
                render_document_text(rows, fmt),
            )
        rows.unpersist()
        triples.unpersist()
    return out


@pytest.mark.parametrize("fmt", FMTS)
def test_local_equals_distributed(rendered, fmt):
    for (name, f), (local, grouped) in rendered.items():
        if f == fmt:
            assert local == grouped, f"{name}/{fmt}: transports diverge"
    if fmt == "csv":
        # header + scheme + every concept of the chain, however deep
        assert len(rendered[("chain30", "csv")][1].splitlines()) == CHAIN_DEPTH + 2


def test_oversized_vocabulary_fails_closed(spark, monkeypatch):
    triples = _triples(spark, "tiny", chain_ttl(3)).cache()
    n = triples.count()
    monkeypatch.setattr(render, "MAX_DRIVER_ROWS", n)
    assert document_rows(triples, EngineConfig(), vocab_col="src_url").count() == 4
    monkeypatch.setattr(render, "MAX_DRIVER_ROWS", n - 1)
    rows = document_rows(triples, EngineConfig(), vocab_col="src_url")
    with pytest.raises(PythonException, match=rf"ValueError: vocabulary 'tiny' has {n} triples"):
        rows.collect()
    triples.unpersist()
