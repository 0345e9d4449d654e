"""The workloads: set-up, one timed batch job, and its output checks.

Each workload object exposes:

- ``prepare()`` — generate the seeded inputs and write them under the
  run's work directory (repeated for the ``setup_s`` median);
- ``warm()`` — build the Spark-side input tables and run the untimed
  warm-up job;
- ``iterate(k)`` — one batch job through the public API, timed from
  the call to a complete, committed result, then checked; returns
  (wall seconds, answer-key scores).

The traced variant of each job is in ``layers.py``. Checks raise
``CheckFailed``; the runner counts a raising job as failed.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Input sizes: jobs of about 8-12 s at local[4], mostly fixed per-Spark-job
# cost (see perfbench/README.md for the time budget behind them).
SIZES = {
    "kg_resume": {"pages": 600, "mentions": 30, "html_only": 0.4, "concepts": 800},
    "skos_convert": {"large": 800, "n_small": 8, "small": 60},
}
# precision/recall floor against the answer key: every planted span and
# every generated fact has one right answer by construction, so anything
# below this is a defect
ANSWER_FLOOR = 0.99


class CheckFailed(AssertionError):
    pass


def timed(fn):
    """(result, wall seconds) of fn()."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Env:
    spark: object
    work: Path
    seed: int
    parts: int

    def config(self):
        from skosconverter_spark.config import EngineConfig

        # intended markdown semantics: bug-compat mode drops every H2+
        # concept, which would leave page triples and the round trip empty
        return EngineConfig(bug_compat=False)


def write_pages(rows: list[dict], path: Path, n_files: int) -> None:
    """The pages table as ``n_files`` parquet files (one scan task each)."""
    path.mkdir(parents=True, exist_ok=True)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * step:(f + 1) * step]
        cols = {name: [r[name] for r in chunk] for name in schema.names}
        pq.write_table(pa.table(cols, schema=schema), path / f"part-{f:05d}.parquet")


def vocab_table(env: Env, ttl: str, path: Path):
    """Turtle text → the program's triples table, written as parquet
    (the pipeline's vocabulary input is an existing table)."""
    from skosconverter_spark.schemas import DOCS
    from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

    docs = env.spark.createDataFrame([("v", "vocab", "ttl", ttl)], schema=DOCS)
    ok_triples(extract_triples(docs, env.config())).write.mode("overwrite").parquet(
        str(path)
    )
    return env.spark.read.parquet(str(path))


def link_pr(links_df, key: set) -> tuple[float, float]:
    got = {
        (r.url, r.begin, r.end, r.concept_uri)
        for r in links_df.select("url", "begin", "end", "concept_uri").collect()
    }
    hit = len(got & key)
    return (hit / len(got) if got else 0.0), (hit / len(key) if key else 1.0)


def check_text(pages_text_df, expected: dict[str, str]) -> None:
    """The north-rule invariant: extracted text is byte-identical per url."""
    import hashlib

    from pyspark.sql import functions as F

    got = {
        r.url: r.h
        for r in pages_text_df.select(
            "url", F.sha2(F.encode("text", "utf-8"), 256).alias("h")
        ).collect()
    }
    check(len(got) == len(expected), f"pages_text has {len(got)} urls, want {len(expected)}")
    bad = [
        u for u, t in expected.items()
        if got.get(u) != hashlib.sha256(t.encode("utf-8")).hexdigest()
    ]
    check(not bad, f"{len(bad)} urls with extracted text differing, e.g. {bad[:1]}")


def _tree_state(d: Path) -> dict:
    """name → (size, mtime_ns) of every file under ``d``."""
    return {
        str(p.relative_to(d)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in sorted(d.rglob("*"))
        if p.is_file()
    }


KG_STAGES = ("10_extract", "20_mentions", "30_links", "40_page_triples", "50_canonical")


class KgResume:
    """``run_pipeline`` against vocabulary B over a checkpoint root that
    holds only a committed ``40_page_triples`` (copied in, untimed): the
    page-triple stage is loaded, extraction, the mention scan, linking
    and the exactMatch closure are recomputed."""

    name = "kg_resume"
    loaded = ("40_page_triples",)
    stage_walls: dict | None = None  # set to {} to record run_pipeline's metrics

    def __init__(self, env: Env):
        self.env = env
        self.size = SIZES[self.name]

    def prepare(self) -> None:
        s, env = self.size, self.env
        _, vocab_b = gen.vocab_pair(env.seed, s["concepts"])
        self.ttl = gen.to_turtle(vocab_b)
        self.key = gen.make_pages(env.seed, vocab_b, s["pages"], s["mentions"], s["html_only"])
        write_pages(self.key.rows, env.work / "pages", 2 * env.parts)

    def warm(self) -> None:
        env = self.env
        self.pages = env.spark.read.parquet(str(env.work / "pages"))
        self.vocab = vocab_table(env, self.ttl, env.work / "vocab")
        # a cold run (the warm-up) leaves the root the template is cut from
        cold = env.work / "kg" / "cold"
        self.run_pipeline(cold)
        self.template = env.work / "kg" / "template"
        shutil.rmtree(self.template, ignore_errors=True)
        for st in self.loaded:
            shutil.copytree(cold / st, self.template / st)
        shutil.rmtree(cold)
        self.template_state = {st: _tree_state(self.template / st) for st in self.loaded}

    def run_pipeline(self, root: Path):
        from skosconverter_spark.kg.pipeline import run_pipeline

        return run_pipeline(
            self.env.spark, self.pages, self.vocab, str(root),
            config=self.env.config(), partitions=self.env.parts,
        )

    def fresh_root(self, k) -> Path:
        """A root holding only the template's committed stages."""
        root = self.env.work / "kg" / f"run{k}"
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.template, root)  # copy2 keeps mtimes
        return root

    def iterate(self, k) -> tuple[float, dict]:
        root = self.fresh_root(k)
        out, wall = timed(lambda: self.run_pipeline(root))
        try:
            return wall, self.checks(out, root)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def checks(self, out, root: Path) -> dict:
        # resume proof: the loaded stage's manifest and data files are
        # byte-for-byte the template's (same sizes and mtimes), so a job
        # can never silently measure a cold pipeline
        for st in self.loaded:
            check(_tree_state(root / st) == self.template_state[st], f"{st} was recomputed, not loaded")
        for st in KG_STAGES:
            check((root / st / "_MANIFEST.json").exists(), f"{st} not committed")
        if self.stage_walls is not None:
            # run_pipeline's own per-stage wall time, for the stages this
            # job computed (a loaded stage keeps the metrics of its writer)
            from pyspark.sql import functions as F

            for r in out["metrics"].groupBy("stage").agg(F.max("wall_ms").alias("ms")).collect():
                if r.stage not in self.loaded:
                    self.stage_walls[r.stage] = r.ms / 1e3
        check_text(out["pages_text"], self.key.expected_text)
        p, r = link_pr(out["links"], self.key.links)
        check(p >= ANSWER_FLOOR and r >= ANSWER_FLOOR, f"link P/R {p:.4f}/{r:.4f}")
        return {"answer_precision": p, "answer_recall": r}


class SkosConvert:
    """The reference's own job, the way the CLI runs it: a Turtle batch
    directory → markdown (skos2notion), markdown → triples
    (notion2skos), each followed by the CLI's error count, then
    ``skos_to_notion`` → CSV on the largest file."""

    name = "skos_convert"

    def __init__(self, env: Env):
        self.env = env
        self.size = SIZES[self.name]

    def prepare(self) -> None:
        s, env = self.size, self.env
        self.key = gen.make_turtle_dir(env.seed, s["large"], s["n_small"], s["small"])
        self.ttl_dir = env.work / "ttl"
        shutil.rmtree(self.ttl_dir, ignore_errors=True)
        self.ttl_dir.mkdir(parents=True)
        for name, text in self.key.files.items():
            (self.ttl_dir / name).write_text(text, encoding="utf-8")
        self.facts = self.key.facts()

    def warm(self) -> None:
        self.iterate("warm")

    def largest_docs(self):
        """The largest file as the CLI loads a single input file."""
        from skosconverter_spark.schemas import DOCS

        path = self.ttl_dir / self.key.largest
        return self.env.spark.createDataFrame(
            [(str(path), path.stem, "ttl", path.read_text(encoding="utf-8"))],
            schema=DOCS,
        )

    def iterate(self, k) -> tuple[float, dict]:
        out = self.env.work / "conv" / f"run{k}"
        (fwd, rev, n_err, csv), wall = timed(lambda: self.job(out))
        try:
            check(n_err == 0, "conversion reported errors")
            self.check_outputs(fwd, rev, out, csv)
            return wall, self.check_roundtrip(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def job(self, out: Path):
        from skosconverter_spark.api import convert_directory, skos_to_notion
        from skosconverter_spark.sources.parse_udf import extract_triples, ok_triples

        spark, cfg = self.env.spark, self.env.config()
        fwd = convert_directory(
            spark, str(self.ttl_dir), str(out / "md"), fmt="md",
            operation="skos2notion", config=cfg,
        )
        n_err_fwd = fwd.filter("status = 'error'").count()
        rev = convert_directory(
            spark, str(out / "md"), str(out / "rt"), operation="notion2skos", config=cfg,
        )
        n_err_rev = rev.filter("status = 'error'").count()
        # --skip-validation: validation_report alone runs ~100 Spark jobs
        # (7-10 s warm, about 20 s cold, whatever the vocabulary size),
        # more than a run's time budget allows (see perfbench/README.md)
        triples = ok_triples(extract_triples(self.largest_docs(), cfg))
        csv, _issues, _warnings = skos_to_notion(triples, "csv", config=cfg, skip_validation=True)
        return fwd, rev, n_err_fwd + n_err_rev, csv

    def check_outputs(self, fwd, rev, out: Path, csv: str) -> None:
        n = len(self.key.files)
        for what, st in (("skos2notion", fwd), ("notion2skos", rev)):
            rows = st.select("url", "status").collect()
            check(
                len(rows) == n and all(r.status == "ok" for r in rows),
                f"{what}: {sum(r.status != 'ok' for r in rows)} of {len(rows)} files not ok",
            )
        mds = sorted(p.stem for p in (out / "md").glob("*.md"))
        check(mds == sorted(self.key.vocabs), "skos2notion did not write one .md per vocabulary")
        n_large = len(self.key.vocabs[Path(self.key.largest).stem].concepts)
        check(csv.count("\n") == n_large + 2, "csv is not header + scheme + one row per concept")

    def check_roundtrip(self, out: Path) -> dict:
        """Forward-then-reverse recovers the generated hierarchy facts."""
        from pyspark.sql import functions as F

        from skosconverter_spark.metrics import precision_recall

        ours = [
            tuple(r)
            for r in self.env.spark.read.parquet(str(out / "rt" / "triples"))
            .filter(F.col("pred").isin(*gen.HIERARCHY_PREDS))
            .select("subj", "pred", "obj", "obj_is_literal", F.lit(None).cast("string"))
            .collect()
        ]
        p, r = precision_recall(ours, self.facts)
        check(p >= ANSWER_FLOOR and r >= ANSWER_FLOOR, f"round-trip P/R {p:.4f}/{r:.4f}")
        return {"answer_precision": p, "answer_recall": r}


WORKLOADS = {w.name: w for w in (KgResume, SkosConvert)}
