"""Crawl-engine benchmark: one workload per process, closed loop, one client.

Usage (from the repository root):

    python3 perfbench/run.py --workload bfs_frontier --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --smoke --trace 1

Each run starts its own Spark session on ``local[<cores>]``, builds the
workload's corpus, warms up with a crawl over a different seed set,
then crawls the ``--seed`` seed set back to back until the crawls have
taken ``--seconds`` (and at least twice).  Every crawl is checked
against the independent oracles (``oracles.py``) outside the timed
region; a crawl whose output differs counts as failed.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a
separate run that alternates untraced and traced crawls (half of
``--seconds`` each, at least one of each), wraps eager
public calls with spans, times lazy operators in isolation, reads the
Spark event log of its own session, and reports the per-layer metrics.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the line before it is the full run record (seed, cores, steal %, rows,
sample counts, error rate).  Spans are written to ``.perfbench/`` at
exit.  ``--smoke`` uses tiny corpora and fails unless every metric
``BENCHMARK.json`` names is emitted with its unit and no crawl failed.

All files the run writes (Spark scratch, event log, spans) stay under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = Path.cwd() / ".perfbench"

# No crawl starts after this many seconds of the process's life, so a
# run on a starved host still ends within three minutes.
CRAWL_START_DEADLINE_S = 80.0
# A run makes at least this many crawls, so an untraced run's medians
# never rest on one crawl.
MIN_CRAWLS = 2
# Heap of the driver JVM (local mode runs the executors in it too).
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "crawl_wall_s": "s",
    "urls_per_s": "1/s",
    "pages_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.corpus_build_s": "s",
    "frontier.rounds": "count",
    "frontier.jobs_per_round": "count",
    "frontier.executor_busy_share": "share",
    "frontier.fetched": "count",
    "frontier.succeeded": "count",
    "frontier.requeued": "count",
    "frontier.round_p50_s": "s",
    "frontier.round_tail_s": "s",
    "frontier.round_tail_pct": "%",
    "frontier.round_samples": "count",
    "seen.anti_join_rows_per_s": "1/s",
    "seen.reject_ratio": "share",
    "normalize.rows_per_s": "1/s",
    "discover.filter_score_rows_per_s": "1/s",
    "ordering.rank_rows_per_s": "1/s",
    "politeness.split_rows_per_s": "1/s",
    "politeness.update_s": "s",
    "politeness.deferred_ratio": "share",
    "checkpoint.snapshot_s": "s",
    "checkpoint.bytes_written": "B",
    "scrape.pages_per_s": "1/s",
    "clean.pages_per_s": "1/s",
    "markdown.pages_per_s": "1/s",
    "api.crawl_only_s": "s",
    "content.parts_over_composed": "ratio",
    "spark.jobs": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
}


@dataclass
class Sample:
    """One crawl call.  ``wall`` runs from the call until its results
    are cached and counted; the oracle check comes after."""

    traced: bool
    wall: float = 0.0
    start: float = 0.0
    end: float = 0.0
    rows: int = 0
    pages: int = 0
    ok: bool = False
    rounds: list[float] = field(default_factory=list)
    engine_metrics: list[dict] = field(default_factory=list)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; the median when there are fewer than 20."""
    n = len(xs)
    if n < 20:
        return 50.0, median(xs)
    pct = math.floor(100.0 * (1.0 - 10.0 / n))
    return float(pct), statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


# -- session lifecycle -------------------------------------------------------

def start_session(cores: int, log_dir: Path | None):
    from crawl4ai_spark.session import get_spark

    scratch = OUT / "spark"
    for sub in ("local", "tmp", "warehouse"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    # the JVM and the Python workers inherit these; Spark's own scratch
    # and both temp dirs must stay inside the working directory
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["TMPDIR"] = str(scratch / "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(scratch / "local"),
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch / 'tmp'}",
    }
    if log_dir is not None:
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    from tracing import descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = [p for p in children if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- the crawl loop ----------------------------------------------------------

def jvm_gc(spark) -> None:
    """Collect garbage in both processes between crawls, so checkpoint
    blocks of finished crawls are released before the next one starts
    instead of at an arbitrary point inside it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def one_crawl(wl, rec, traced: bool, targets, keep: bool = False):
    from tracing import RoundClock, wrap_public

    jvm_gc(wl.spark)
    sample = Sample(traced=traced)
    clock = RoundClock()
    res = None
    try:
        wrap = wrap_public(rec, targets) if traced else nullcontext({})
        span = rec.span("crawl") if traced else nullcontext()
        with wrap as receivers, span as crawl_span:
            sample.start = time.time()
            t0 = time.perf_counter()
            try:
                res = wl.crawl(wl.seeds, clock, wl.size.depth).persist()
                sample.rows = res.count()
            finally:
                sample.wall = time.perf_counter() - t0
                sample.end = time.time()
        sample.rounds = [b - a for a, b in clock.rounds()]
        if traced:
            runs = [s for s in rec.spans if s["name"] == "frontier.run"
                    and s["start"] >= sample.start]
            parent = runs[-1]["id"] if runs else crawl_span["id"]
            for a, b in clock.rounds():
                rec.add("frontier.round", a, b, parent)
            for eng in receivers.get("frontier.run", []):
                sample.engine_metrics.extend(eng.metrics)
        sample.ok, sample.pages = wl.check(res)
        if not sample.ok:
            print(f"perfbench: {wl.name} output differs from the oracle",
                  file=sys.stderr)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        sample.ok = False
    if res is not None and not keep:
        res.unpersist()
        res = None
    return sample, res


def crawl_window(wl, rec, seconds: float, modes: list[bool], targets, t_start):
    """Crawl until each mode in ``modes`` has spent ``seconds`` inside
    crawl calls, and at least ``MIN_CRAWLS`` times in all.  Two modes
    alternate which goes first, so slow drift of the host or the JVM
    falls on both alike.  Returns the samples and the result of the last
    traced crawl (kept cached for the layers)."""
    samples: list[Sample] = []
    spent = {m: 0.0 for m in modes}
    last = None
    i = 0
    while min(spent.values()) < seconds or len(samples) < MIN_CRAWLS:
        if time.time() - t_start > CRAWL_START_DEADLINE_S and samples:
            print("perfbench: start deadline reached, window cut short",
                  file=sys.stderr)
            break
        for m in (modes if i % 2 == 0 else modes[::-1]):
            s, res = one_crawl(wl, rec, m, targets, keep=m)
            if res is not None:
                if last is not None:
                    last.unpersist()
                last = res
            samples.append(s)
            spent[m] += s.wall
        i += 1
    return samples, last


def public_targets():
    """Eager public calls wrapped with spans in traced crawls."""
    from crawl4ai_spark.api import WebCrawler
    from crawl4ai_spark.operators.frontier import CrawlEngine
    from crawl4ai_spark.operators.politeness import PolitenessState
    from crawl4ai_spark.plans import checkpoint

    return [
        (WebCrawler, "arun_many", "api.arun_many"),
        (CrawlEngine, "run", "frontier.run"),
        (CrawlEngine, "prepare_pages", "frontier.prepare_pages"),
        (PolitenessState, "update", "politeness.update"),
        (checkpoint, "snapshot_round", "checkpoint.snapshot_round"),
    ]


# -- one run -----------------------------------------------------------------

def run(args) -> tuple[dict, dict]:
    import layers
    from tracing import (
        PeakRss,
        SpanRecorder,
        read_cpu_ticks,
        read_event_log,
        spark_totals,
        steal_pct,
        wrap_public,
    )
    from workloads import WORKLOADS

    t_start = time.time()
    traced = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{uuid.uuid4().hex[:8]}"
    OUT.mkdir(parents=True, exist_ok=True)
    rec = SpanRecorder(run_id)
    cores = len(os.sched_getaffinity(0))
    log_dir = OUT / f"eventlog-{run_id}" if traced else None
    targets = public_targets() if traced else []

    with rec.span("setup"):
        with rec.span("session.start") as s_session:
            spark = start_session(cores, log_dir)
        rss = PeakRss().start()
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, args.smoke)
            with (wrap_public(rec, targets) if traced else nullcontext()):
                with rec.span("sources.corpus_build") as s_corpus:
                    wl.build_corpus()
                with rec.span("warmup"):
                    jvm_gc(spark)
                    warm = wl.crawl(wl.warm_seeds, None, wl.warm.depth).persist()
                    warm.count()
                    warm.unpersist()
        except BaseException:
            rss.stop()
            stop_session(spark)
            raise
    setup = rec.spans[0]
    session_s = s_session["end"] - s_session["start"]
    corpus_s = s_corpus["end"] - s_corpus["start"]

    try:
        ticks0 = read_cpu_ticks()
        # a traced run splits its window between untraced and traced crawls
        modes = [False, True] if traced else [False]
        samples, last = crawl_window(
            wl, rec, args.seconds / len(modes), modes, targets, t_start
        )
        ticks1 = read_cpu_ticks()
        peak_mb = rss.stop()

        done = [s for s in samples if s.wall > 0 and s.rows > 0]
        plain = [s for s in done if not s.traced]
        if traced:
            done = [s for s in done if s.traced]
        rounds = [r for s in done for r in s.rounds]
        tail_pct, tail_s = tail(rounds)
        metrics = {
            "crawl_wall_s": median([s.wall for s in done]),
            "urls_per_s": median([s.rows / s.wall for s in done]),
            "pages_per_s": median([s.pages / s.wall for s in done]),
            "peak_rss_mb": peak_mb,
            "setup_s": setup["end"] - setup["start"],
        }
        if traced:
            layer = {
                "session.start_s": session_s,
                "sources.corpus_build_s": corpus_s,
                "frontier.round_p50_s": median(rounds),
                "frontier.round_tail_s": tail_s,
                "frontier.round_tail_pct": tail_pct,
                "frontier.round_samples": float(len(rounds)),
                "trace.overhead_s": metrics["crawl_wall_s"]
                - median([s.wall for s in plain]),
            }
            n = max(len(done), 1)
            em = [m for s in done for m in s.engine_metrics]
            layer["frontier.rounds"] = len(rounds) / n
            for key in ("fetched", "succeeded", "requeued"):
                layer[f"frontier.{key}"] = sum(m.get(key, 0) for m in em) / n
            # the content workload times the content tier, the others the
            # engine's layers; the layers a workload does not time read 0
            layer.update(dict.fromkeys(
                layers.ENGINE_METRICS + layers.CONTENT_METRICS, 0.0
            ))
            timer = layers.LayerTimer(rec)
            if last is not None:
                with rec.span("layers"):
                    if wl.html is None:
                        layer.update(layers.engine_layers(
                            timer, wl.pages, last, wl.scorer, OUT
                        ))
                    else:
                        layer.update(layers.content_layers(
                            timer, wl, last, median([s.wall for s in plain])
                        ))
                last.unpersist()
    finally:
        stop_session(spark)

    if traced:
        log = read_event_log(log_dir)
        windows = [(s.start, s.end) for s in done]
        spark_m = spark_totals(log, windows)
        n = max(len(done), 1)
        total_rounds = max(len(rounds), 1)
        busy = sum(s.wall for s in done) * cores
        layer.update({
            "spark.jobs": spark_m["jobs"] / n,
            "spark.executor_run_s": spark_m["executor_run_s"] / n,
            "spark.shuffle_read_mb": spark_m["shuffle_read_mb"] / n,
            "spark.shuffle_write_mb": spark_m["shuffle_write_mb"] / n,
            "spark.spill_mb": spark_m["spill_mb"] / n,
            "frontier.jobs_per_round": spark_m["jobs"] / total_rounds,
            "frontier.executor_busy_share": (
                spark_m["executor_run_s"] / busy if busy else 0.0
            ),
        })
        shutil.rmtree(log_dir)
        reported, units = layer, LAYER_UNITS
    else:
        reported, units = metrics, E2E_UNITS
    rec.write(OUT / f"spans-{run_id}.jsonl")

    attempted = len(samples)
    failed = sum(1 for s in samples if not s.ok)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "steal_pct": steal_pct(ticks0, ticks1),
        "corpus_pages": wl.size.pages,
        "seed_urls": len(wl.seeds),
        "rows": median([s.rows for s in done]),
        "oracle_rows": len(wl.expected()),
        "samples": len(done),
        "crawl_walls_s": [s.wall for s in done],
        "warmup_walls_s": rec.durations("warmup"),
        "round_samples": len(rounds),
        "round_p50_s": median(rounds),
        "round_tail": {"pct": tail_pct, "value_s": tail_s},
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "end_to_end": metrics,
        "layers": timer.detail if traced else {},
        "spans": str(OUT / f"spans-{run_id}.jsonl"),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": reported[name], "unit": unit}
            for name, unit in units.items()
        },
    }
    return record, result


def smoke_problems(result: dict, trace: int) -> list[str]:
    """What a smoke run is missing against BENCHMARK.json's declared
    metrics (name and unit), plus any failed crawl."""
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        m["name"]: m["unit"]
        for m in declared["per_layer" if trace else "end_to_end"]
    }
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    problems = [f"{k}: want unit {u}, got {got.get(k)}"
                for k, u in want.items() if got.get(k) != u]
    problems += [f"{k}: not declared" for k in got if k not in want]
    if result["failed"] or not result["correct"]:
        problems.append(f"{result['failed']} of {result['attempted']} crawls failed")
    return problems


def run_all(args) -> int:
    """Every workload, each in its own process, then one table."""
    from workloads import WORKLOADS

    status = 0
    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()),
               "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.smoke:
            cmd.append("--smoke")
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"{name}: exit {proc.returncode}")
            status = 1
            continue
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        rows.append((name, "error_rate", record["error_rate"], "share"))
        for metric, v in result["metrics"].items():
            rows.append((name, metric, v["value"], v["unit"]))
    for name, metric, value, unit in rows:
        print(f"{name:16} {metric:34} {value:>14.6g} {unit}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpora; fail unless every declared metric is emitted")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import crawl4ai_spark
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the crawl engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if ROOT not in Path(crawl4ai_spark.__file__).resolve().parents:
        print(f"perfbench: crawl4ai_spark was imported from outside {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2

    record, result = run(args)
    if args.smoke:
        problems = smoke_problems(result, args.trace)
        if problems:
            print("perfbench smoke: " + "; ".join(problems), file=sys.stderr)
            return 1
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
