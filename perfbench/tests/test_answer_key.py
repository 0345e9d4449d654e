"""The answer key matches a tiny run of the real program, and the
traced run reproduces the untraced job's output."""

import pytest

import layers
import run
import workloads


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("bench")
    session = run.start_spark(work, 2, work / "eventlog")
    yield session, work
    session.stop()


def _tiny(spark, name, seed, **size):
    session, work = spark
    workloads.SIZES[name] = {**workloads.SIZES[name], **size}
    env = workloads.Env(session, work / f"{name}-{seed}", seed, 2)
    wl = workloads.WORKLOADS[name](env)
    wl.prepare()
    wl.warm()
    return wl


def test_kg_resume_links_match_the_key(spark, monkeypatch):
    monkeypatch.setattr(workloads, "SIZES", dict(workloads.SIZES))
    wl = _tiny(spark, "kg_resume", 5, pages=24, concepts=80, mentions=10)
    wl.stage_walls = {}
    wall, quality = wl.iterate(0)  # raises CheckFailed on any mismatch
    assert wall > 0
    assert quality == {"answer_precision": 1.0, "answer_recall": 1.0}
    # extraction recomputed, page triples loaded
    assert set(wl.stage_walls) == set(workloads.KG_STAGES) - {"40_page_triples"}

    res = layers.traced_run(wl, spark[1] / "traces" / f"{wl.name}.json")
    names = {s.name for s in res["tracer"].spans}
    assert {"kg.extract", "kg.mentions", "kg.linking", "kg.canonicalize"} <= names
    assert "sources.parse" not in names  # its stage was loaded
    assert res["counts"]["kg.pipeline.stages_loaded"] == 1
    assert res["counts"]["kg.linking.links"] == len(wl.key.links)


def test_skos_convert_round_trip_matches_the_key(spark, monkeypatch):
    monkeypatch.setattr(workloads, "SIZES", dict(workloads.SIZES))
    wl = _tiny(spark, "skos_convert", 5, large=40, n_small=2, small=8)
    _, quality = wl.iterate(0)
    assert quality == {"answer_precision": 1.0, "answer_recall": 1.0}

    res = layers.traced_run(wl, spark[1] / "traces" / f"{wl.name}.json")
    names = {s.name for s in res["tracer"].spans}
    assert {"sources.parse", "plans.local_dfs", "operators.render", "api.status"} <= names
    assert res["counts"]["sources.parse.errors"] == 0
