"""Engine configuration.

Mirrors the *live* fields of the reference's ConverterConfig
(skos_converter.py:40-60) — namespace_uri, prefix, preferred_language,
fallback_languages — and drops its dead fields (validation_level,
max_hierarchy_depth, batch_size, memory_limit_mb; see SURVEY.md §1.1).

Adds engine-specific knobs:

- ``bug_compat``: reproduce the reference's observed markdown→SKOS
  behavior exactly (SURVEY.md §2.10 D1/D3/D5) instead of the intended
  semantics. The P/R gate scores bug-compat mode.
- ``max_iterations``: safety cap for the validator's iterative path
  searches (cycle detection, depth check; the reference hard-caps depth
  at 20, skos_converter.py:342). It does not cap the rendered
  hierarchy: the DFS kernel (plans.local_dfs) emits every level.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    namespace_uri: str = "http://example.org/vocabulary#"
    prefix: str = "ex"
    preferred_language: str | None = None
    fallback_languages: tuple[str, ...] = ("en", "")
    bug_compat: bool = True
    max_iterations: int = 25

    def normalized_namespace(self) -> str:
        # Same normalization as the reference URIManager (skos_converter.py:67).
        return self.namespace_uri.rstrip("#/") + "#"

    def mint_uri(self, label: str) -> str:
        """Deterministic URI minting.

        The reference mints uuid4 URIs for unlabeled/new concepts
        (skos_converter.py:90) — nondeterministic. We replace it with a
        content hash so two runs (and two cluster sizes) agree byte-for-byte
        (SURVEY.md §2.9 C14). The P/R harness canonicalizes minted URIs by
        label before comparing, so this never costs parity points.
        """
        digest = hashlib.sha1(label.encode("utf-8")).hexdigest()
        return self.normalized_namespace() + digest

    def with_(self, **kw) -> "EngineConfig":
        d = self.__dict__.copy()
        d.update(kw)
        return EngineConfig(**d)


SKOS = "http://www.w3.org/2004/02/skos/core#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
DC = "http://purl.org/dc/elements/1.1/"
DCTERMS = "http://purl.org/dc/terms/"

# Fully-qualified predicate/class IRIs used throughout the engine; the set is
# exactly the vocabulary the reference touches (SURVEY.md §1.1).
RDF_TYPE = RDF + "type"
SKOS_CONCEPT = SKOS + "Concept"
SKOS_CONCEPT_SCHEME = SKOS + "ConceptScheme"
SKOS_PREF_LABEL = SKOS + "prefLabel"
SKOS_ALT_LABEL = SKOS + "altLabel"
RDFS_LABEL = RDFS + "label"
SKOS_DEFINITION = SKOS + "definition"
SKOS_SCOPE_NOTE = SKOS + "scopeNote"
SKOS_NOTATION = SKOS + "notation"
SKOS_BROADER = SKOS + "broader"
SKOS_NARROWER = SKOS + "narrower"
SKOS_IN_SCHEME = SKOS + "inScheme"
SKOS_HAS_TOP_CONCEPT = SKOS + "hasTopConcept"
SKOS_TOP_CONCEPT_OF = SKOS + "topConceptOf"
SKOS_RELATED = SKOS + "related"
SKOS_EXACT_MATCH = SKOS + "exactMatch"
OWL_SAME_AS = OWL + "sameAs"

WELL_KNOWN_PREFIXES = {
    "skos": SKOS,
    "rdf": RDF,
    "rdfs": RDFS,
    "owl": OWL,
    "dc": DC,
    "dcterms": DCTERMS,
}
