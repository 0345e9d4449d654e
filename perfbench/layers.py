"""The traced run: one batch job driven one layer at a time.

It calls the same public functions ``run_pipeline`` and
``convert_directory`` compose, in the same order, and forces each
layer's output at its boundary (``localCheckpoint(eager=True)`` or the
layer's own write), inside a span named after the package module that
does the work. Each span also labels its Spark jobs, so the event log
attributes task CPU, shuffle and exchanges to the same layer.

Driven one layer at a time, the job loses the stage overlap
``run_pipeline`` gets from its thread pool; that loss is part of the
reported tracing overhead (traced wall time minus the untraced median).
Counts are taken after the traced wall time stops.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import eventlog
from spans import Tracer
from workloads import ANSWER_FLOOR, KG_STAGES, KgResume, check, check_text, link_pr

# every per-layer metric, with its unit; a workload that never enters a
# layer reports 0 for it
LAYER_METRICS = {
    "kg.extract.s": "s",
    "kg.extract.html_rows": "count",
    "kg.extract.text_mb": "MB",
    "sources.parse.s": "s",
    "sources.parse.docs": "count",
    "sources.parse.triples": "count",
    "sources.parse.errors": "count",
    "kg.mentions.s": "s",
    "kg.mentions.rows": "count",
    "kg.mentions.surfaces": "count",
    "kg.linking.s": "s",
    "kg.linking.candidates": "count",
    "kg.linking.links": "count",
    "kg.linking.useful_ratio": "ratio",
    "kg.canonicalize.s": "s",
    "kg.canonicalize.equiv_edges": "count",
    "kg.canonicalize.triples_out": "count",
    "kg.catalog.write_s": "s",
    "kg.catalog.read_s": "s",
    "kg.catalog.bytes_written_mb": "MB",
    "kg.catalog.files_written": "count",
    "kg.pipeline.fingerprint_s": "s",
    "kg.pipeline.stages_loaded": "count",
    "kg.pipeline.stages_recomputed": "count",
    # run_pipeline's own stage metrics, for the stages kg_resume computes
    **{f"kg.stage.{st}.wall_s": "s" for st in KG_STAGES if st not in KgResume.loaded},
    "plans.local_dfs.s": "s",
    "plans.local_dfs.rows": "count",
    "operators.render.s": "s",
    "operators.render.bytes_out": "bytes",
    "api.status.s": "s",
    "api.write.s": "s",
    "driver.self_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.exchanges": "count",
    "spark.task_skew": "ratio",
    "driver.gap_s": "s",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}
# layers whose Spark work is also reported on its own
SPARK_LAYERS = (
    "kg.extract", "sources.parse", "kg.mentions", "kg.linking",
    "kg.canonicalize", "kg.catalog.write", "plans.local_dfs",
    "operators.render", "api.status",
)
for _layer in SPARK_LAYERS:
    LAYER_METRICS[f"{_layer}.task_cpu_s"] = "s"
    LAYER_METRICS[f"{_layer}.exchanges"] = "count"
# parent spans: their self time is driver work between layer calls
PARENT_SPANS = ("kg.pipeline", "api.convert_directory", "api.skos_to_notion")


def _forced(df):
    return df.localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# kg_resume: run_pipeline's stage graph, one layer at a time
# --------------------------------------------------------------------------


def traced_kg(wl, tr: Tracer, root: Path) -> dict:
    from pyspark.sql import functions as F

    from skosconverter_spark.kg.canonicalize import canonicalize_triples, equivalence_edges
    from skosconverter_spark.kg.extract import extract_text, salted_repartition
    from skosconverter_spark.kg.linking import link_best, score_candidates, vocab_score_tables
    from skosconverter_spark.kg.mentions import label_table, mention_candidates, scan_mentions
    from skosconverter_spark.kg.pipeline import StageRunner, fingerprint_of
    from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

    env, pages, vocab = wl.env, wl.pages, wl.vocab
    spark, cfg, parts = env.spark, env.config(), env.parts
    runner = StageRunner(spark, str(root), cfg)
    kept: dict = {}

    def stage(name, fp, layer, build):
        """Load a committed stage, or build it inside ``layer`` and
        commit it inside kg.catalog.write (StageRunner.run_stage)."""
        if runner.catalog.committed_fingerprint(root / name) == fp:
            with tr.span("kg.catalog.read", stage=name):
                return runner.run_stage(name, fp, build)
        with tr.span(layer, stage=name):
            df = _forced(build())
        kept[name] = df
        with tr.span("kg.catalog.write", stage=name):
            return runner.run_stage(name, fp, lambda: df)

    t0 = time.time()
    with tr.span("kg.pipeline"):
        with tr.span("kg.pipeline.fingerprint"):
            fp_pages = fingerprint_of(pages, ["url"])
            fp_vocab = fingerprint_of(vocab, ["subj", "pred", "obj"])
        pages_text = stage(
            "10_extract", fp_pages, "kg.extract",
            lambda: salted_repartition(extract_text(pages), parts).drop("html"),
        )
        with tr.span("kg.mentions"):
            lt = _forced(label_table(vocab))
        mentions = stage(
            "20_mentions", f"{fp_pages}|{fp_vocab}", "kg.mentions",
            lambda: scan_mentions(pages_text, vocab, label_tbl=lt),
        )

        def page_triples_build():
            kept["parsed"] = _forced(
                extract_triples(
                    pages_text.select(
                        F.col("url"), F.lit("md").alias("fmt"), F.col("text").alias("payload")
                    ),
                    cfg,
                )
            )
            return ok_triples(kept["parsed"])

        page_triples = stage("40_page_triples", fp_pages, "sources.parse", page_triples_build)
        with tr.span("kg.linking"):
            score_tables = tuple(_forced(t) for t in vocab_score_tables(lt))
        by_url = mentions.repartition(parts, "url")

        def links_build():
            kept["candidates"] = _forced(mention_candidates(by_url, vocab, label_tbl=lt))
            return link_best(
                score_candidates(
                    kept["candidates"], by_url, vocab, threshold=0.25,
                    label_tbl=lt, score_tables=score_tables,
                )
            )

        links = stage("30_links", f"{fp_pages}|{fp_vocab}|t=0.25", "kg.linking", links_build)
        canon_in = page_triples.unionByName(vocab)
        stage(
            "50_canonical", f"{fp_pages}|{fp_vocab}", "kg.canonicalize",
            lambda: canonicalize_triples(canon_in, cfg.max_iterations),
        )
        with tr.span("kg.catalog.write", stage="60_graph"):
            runner.catalog.write(
                runner.catalog.read(spark, root / "50_canonical"), root / "60_graph",
                partition_by=("pred",),
            )
    wall = time.time() - t0

    # counts and checks, after the traced wall time
    check_text(pages_text, wl.key.expected_text)
    p, r = link_pr(links, wl.key.links)
    check(p >= ANSWER_FLOOR and r >= ANSWER_FLOOR, f"traced link P/R {p:.4f}/{r:.4f}")
    manifests = {st: runner.catalog.committed_fingerprint(root / st) for st in KG_STAGES}
    check(all(manifests.values()), "traced run left a stage uncommitted")
    rows = {st: _manifest_rows(root / st) for st in KG_STAGES}
    recomputed = [st for st in KG_STAGES if st in kept]
    files = [f for f in root.rglob("*") if f.is_file() and f.stat().st_mtime >= t0]
    c: dict = {
        "kg.pipeline.stages_loaded": len(KG_STAGES) - len(recomputed),
        "kg.pipeline.stages_recomputed": len(recomputed),
        "kg.catalog.files_written": len(files),
        "kg.catalog.bytes_written_mb": sum(f.stat().st_size for f in files) / 2**20,
        "kg.mentions.surfaces": lt.select("norm_surface").distinct().count(),
        "kg.canonicalize.equiv_edges": equivalence_edges(canon_in).count(),
    }
    if "10_extract" in kept:
        c["kg.extract.html_rows"] = pages.filter(F.col("text").isNull()).count()
        c["kg.extract.text_mb"] = (
            pages_text.agg(F.sum(F.length("text"))).first()[0] / 2**20
        )
    if "40_page_triples" in kept:
        c["sources.parse.docs"] = rows["10_extract"]
        c["sources.parse.triples"] = kept["parsed"].filter("status = 'ok'").count()
        c["sources.parse.errors"] = kept["parsed"].filter("status = 'error'").count()
    if "20_mentions" in kept:
        c["kg.mentions.rows"] = rows["20_mentions"]
    if "30_links" in kept:
        c["kg.linking.candidates"] = kept["candidates"].count()
        c["kg.linking.links"] = rows["30_links"]
        c["kg.linking.useful_ratio"] = rows["30_links"] / max(1, c["kg.linking.candidates"])
    if "50_canonical" in kept:
        c["kg.canonicalize.triples_out"] = rows["50_canonical"]
    return {"wall": wall, "counts": c}


def _manifest_rows(base: Path) -> int:
    return json.loads((base / "_MANIFEST.json").read_text())["rows"]


# --------------------------------------------------------------------------
# skos_convert: convert_directory ×2 and skos_to_notion, layer by layer
# --------------------------------------------------------------------------


def _status_count(docs, cfg) -> int:
    """convert_directory's status table and the CLI's error count over
    it. ``extracted`` is rebuilt un-forced, exactly as convert_directory
    hands it to the status table, so its re-evaluation shows here."""
    from pyspark.sql import functions as F

    from skosconverter_spark.sources.parse_udf import doc_errors, extract_triples

    errors = doc_errors(extract_triples(docs, cfg)).cache()
    ok_urls = docs.select(F.col("url")).join(
        errors.select("url"), "url", "left_anti"
    ).withColumn("status", F.lit("ok")).withColumn("error", F.lit(None).cast("string"))
    status = ok_urls.unionByName(errors.select("url", F.lit("error").alias("status"), "error"))
    n = status.filter("status = 'error'").count()
    errors.unpersist()
    return n


def traced_convert(wl, tr: Tracer, out: Path) -> dict:
    from pyspark.sql import functions as F

    from skosconverter_spark.api import document_rows_per_doc
    from skosconverter_spark.operators.render import (
        collect_triples, guard_driver_sized, render_csv_rows, render_documents,
    )
    from skosconverter_spark.plans.local_dfs import dfs_rows_local
    from skosconverter_spark.sources.docs import docs_from_directory
    from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

    spark, cfg = wl.env.spark, wl.env.config()
    parses = []  # (docs, extracted) per parse call, counted afterwards

    def parsed(docs):
        ex = _forced(extract_triples(docs, cfg))
        parses.append((docs, ex))
        return ex

    t0 = time.time()
    with tr.span("api.convert_directory", operation="skos2notion"):
        (out / "md").mkdir(parents=True)
        docs = docs_from_directory(spark, str(wl.ttl_dir), "*")
        docs = docs.filter(F.col("fmt") != "md")
        with tr.span("sources.parse"):
            ex = parsed(docs)
        with tr.span("plans.local_dfs"):
            doc_rows = _forced(document_rows_per_doc(ex, cfg))
        with tr.span("operators.render"):
            per_doc = _forced(render_documents(doc_rows, "md", vocab_col="vocab_id"))
        with tr.span("api.write"):
            guard_driver_sized(per_doc, "convert_directory per-file render", 100_000)
            payloads = per_doc.collect()
            for r in payloads:
                (out / "md" / (Path(r.vocab_id).stem + ".md")).write_text(
                    r.payload, encoding="utf-8"
                )
        with tr.span("api.status"):
            n_err = _status_count(docs, cfg)
    with tr.span("api.convert_directory", operation="notion2skos"):
        (out / "rt").mkdir(parents=True)
        md_docs = docs_from_directory(spark, str(out / "md"), "*.md")
        with tr.span("sources.parse"):
            md_ex = parsed(md_docs)
        with tr.span("api.write"):
            ok_triples(md_ex).write.mode("overwrite").partitionBy("pred").parquet(
                str(out / "rt" / "triples")
            )
        with tr.span("api.status"):
            n_err += _status_count(md_docs, cfg)
    with tr.span("api.skos_to_notion"):
        with tr.span("sources.parse"):
            triples = _forced(ok_triples(parsed(wl.largest_docs())))
        with tr.span("operators.render"):
            rows_in = collect_triples(triples)
        with tr.span("plans.local_dfs"):
            dfs = dfs_rows_local(rows_in, cfg)
        with tr.span("operators.render"):
            csv = render_csv_rows(dfs)
    wall = time.time() - t0

    check(n_err == 0, "traced conversion reported errors")
    wl.check_roundtrip(out)
    c = {
        "sources.parse.docs": sum(docs.count() for docs, _ in parses),
        "sources.parse.triples": sum(ex.filter("status = 'ok'").count() for _, ex in parses),
        "sources.parse.errors": sum(ex.filter("status = 'error'").count() for _, ex in parses),
        "plans.local_dfs.rows": doc_rows.count() + len(dfs),
        "operators.render.bytes_out": sum(len(r.payload.encode()) for r in payloads)
        + len(csv.encode()),
    }
    return {"wall": wall, "counts": c}


# --------------------------------------------------------------------------
# the traced run and its metrics
# --------------------------------------------------------------------------


def traced_run(wl, spans_out: Path) -> dict:
    """Run the traced job and write its spans to ``spans_out``; returns
    spans, counts and wall, or raises CheckFailed when its output is
    wrong."""
    sc = wl.env.spark.sparkContext
    tr = Tracer(run_id=f"{wl.name}-traced", spark_context=sc)
    if wl.name == "skos_convert":
        out = wl.env.work / "conv" / "traced"
        shutil.rmtree(out, ignore_errors=True)
        try:
            res = traced_convert(wl, tr, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
    else:
        root = wl.fresh_root("traced")
        try:
            res = traced_kg(wl, tr, root)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    spans_out.parent.mkdir(parents=True, exist_ok=True)
    tr.dump(spans_out)
    res["tracer"] = tr
    return res


def layer_metrics(
    res: dict, stage_walls: dict, log_dir: Path, untraced_wall: float | None
) -> dict:
    """Per-layer metrics from the spans, the counts, run_pipeline's own
    stage metrics, and the event log of the session."""
    tr: Tracer = res["tracer"]
    selfs = tr.self_times()
    v: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
    for name in ("kg.extract", "sources.parse", "kg.mentions", "kg.linking",
                 "kg.canonicalize", "plans.local_dfs", "operators.render",
                 "api.status", "api.write"):
        v[f"{name}.s"] = selfs.get(name, 0.0)
    v["kg.catalog.write_s"] = selfs.get("kg.catalog.write", 0.0)
    v["kg.catalog.read_s"] = selfs.get("kg.catalog.read", 0.0)
    v["kg.pipeline.fingerprint_s"] = selfs.get("kg.pipeline.fingerprint", 0.0)
    v["driver.self_s"] = sum(selfs.get(p, 0.0) for p in PARENT_SPANS)
    v.update(res["counts"])
    for st, wall_s in stage_walls.items():
        v[f"kg.stage.{st}.wall_s"] = wall_s

    groups = eventlog.summarize(eventlog.read_events(log_dir))
    traced = {s.name for s in tr.spans}
    mine = {d: g for d, g in groups.items() if d in traced}
    for layer in SPARK_LAYERS:
        g = mine.get(layer)
        if g is not None:
            v[f"{layer}.task_cpu_s"] = g.task_cpu_s
            v[f"{layer}.exchanges"] = g.exchanges
    v["spark.jobs"] = sum(g.jobs for g in mine.values())
    v["spark.tasks"] = sum(g.tasks for g in mine.values())
    v["spark.task_cpu_s"] = sum(g.task_cpu_s for g in mine.values())
    v["spark.gc_s"] = sum(g.gc_s for g in mine.values())
    v["spark.shuffle_read_mb"] = sum(g.shuffle_read_mb for g in mine.values())
    v["spark.shuffle_write_mb"] = sum(g.shuffle_write_mb for g in mine.values())
    v["spark.spill_mb"] = sum(g.spill_mb for g in mine.values())
    v["spark.exchanges"] = sum(g.exchanges for g in mine.values())
    v["spark.task_skew"] = max((g.task_skew for g in mine.values()), default=0.0)
    v["driver.gap_s"] = eventlog.gap_s(
        [iv for g in mine.values() for iv in g.job_intervals],
        min(s.start for s in tr.spans) * 1e3, max(s.end for s in tr.spans) * 1e3,
    )
    v["trace.wall_s"] = res["wall"]
    v["trace.untraced_wall_s"] = untraced_wall
    # no untraced job passed: the run is failed anyway, report no overhead
    v["trace.overhead_s"] = None if untraced_wall is None else res["wall"] - untraced_wall
    return {k: {"value": v[k], "unit": u} for k, u in LAYER_METRICS.items()}
