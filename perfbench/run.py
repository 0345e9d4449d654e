"""KG-construction benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload kg_resume --seed 1 --seconds 5 --trace 0

Run from the repository root. Spark runs at ``local[n]`` with n the
CPUs available to the process. Each workload is a closed loop with one
client: the next batch job starts when the previous one has finished,
for ``--seconds`` seconds after set-up and warm-up. Every job's output
is checked against the generator's answer key.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the session also writes a Spark event log, and after the
timed loop one extra traced job runs layer by layer, and the metrics are
the per-layer ones (see BENCHMARK.json for names and meanings). The
exit code is 0 only when every job passed its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORK_DIR = ".perfbench_work"  # under the checkout root; git-ignored
INPUT_REPEATS = 3  # input set-ups per run, for the setup_s median


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def start_spark(work: Path, cpus: int, event_log: Path | None):
    from skosconverter_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(wl, seconds: float) -> dict:
    """The closed loop: one job after another until ``seconds`` pass."""
    walls, quality, attempted, failed = [], {}, 0, 0
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        attempted += 1
        try:
            wall, q = wl.iterate(attempted)
        except Exception:  # a failed job or check: counted, loop goes on
            failed += 1
            traceback.print_exc()
            continue
        walls.append(wall)
        print(f"perfbench: job {attempted} {wall:.3f} s {q}", file=sys.stderr, flush=True)
        for k, v in q.items():
            quality.setdefault(k, []).append(v)
    return {"walls": walls, "quality": quality, "attempted": attempted, "failed": failed}


def run(args, work: Path, mem) -> dict:
    import workloads

    t_proc = process_start_epoch()
    cpus = len(os.sched_getaffinity(0))
    event_log = work / "eventlog" if args.trace else None
    spark = start_spark(work, cpus, event_log)
    try:
        session_s = time.time() - t_proc
        env = workloads.Env(spark, work / "data", args.seed, cpus)
        wl = workloads.WORKLOADS[args.workload](env)
        inputs_s = []
        for _ in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            inputs_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(inputs_s) + warm_s
        print(
            f"perfbench: set-up: session {session_s:.2f} s, inputs "
            f"{[round(x, 2) for x in inputs_s]} s, warm-up {warm_s:.2f} s",
            file=sys.stderr, flush=True,
        )

        if args.trace:
            wl.stage_walls = {}  # record run_pipeline's own stage metrics
        m = measure(wl, args.seconds)
        walls = m["walls"]
        wall_s = statistics.median(walls) if walls else None
        if args.trace:
            import layers

            m["attempted"] += 1
            try:
                traced = layers.traced_run(
                    wl, work.parent / "traces" / f"{args.workload}-seed{args.seed}.json"
                )
            except Exception:
                m["failed"] += 1
                traceback.print_exc()
                traced = None
    finally:
        spark.stop()
    if not args.trace:
        ok = m["attempted"] - m["failed"]
        q = {k: statistics.median(v) for k, v in m["quality"].items()}
        metrics = {
            "wall_s": metric(wall_s, "s"),
            "setup_s": metric(setup_s, "s"),
            "peak_pss_mb": metric(mem.peak_mb(), "MB"),
            "ok_ratio": metric(ok / m["attempted"], "ratio"),
            "answer_precision": metric(q.get("answer_precision"), "ratio"),
            "answer_recall": metric(q.get("answer_recall"), "ratio"),
        }
    elif traced is not None:
        # the event log is complete once the session has stopped
        metrics = layers.layer_metrics(traced, wl.stage_walls or {}, event_log, wall_s)
    else:
        metrics = {}
    return {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("kg_resume", "skos_convert"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "skosconverter_spark" / "__init__.py").is_file():
        print(
            "perfbench: run from the repository root; skosconverter_spark/ not found",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(root))
    sys.path.insert(0, str(HERE))
    work = root / WORK_DIR / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # everything the run writes stays under the checkout: Python temp
    # files, Spark's scratch dirs and the workers' interpreter
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher's too: temp files under the
    # work directory and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    (work / "tmp").mkdir()

    from proctree import PeakMemory, stop_descendants

    # a terminated run still stops Spark, its JVM and workers, and
    # removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        with PeakMemory() as mem:
            result = run(args, work, mem)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
