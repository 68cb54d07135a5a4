"""Per-layer measurements of lazy operators, taken as isolated public
calls on inputs captured from the workload's own last crawl.

A lazy operator only builds a plan; its work happens inside whichever
job later forces it, fused with its neighbours.  So each one is timed
here on its own: the input is rebuilt from the crawl's results,
repeated to a size where the operator's work outweighs Spark's fixed
per-job cost, and cached (all untimed); then the operator's output is
forced by an aggregate that reads the operator's column, a few times
over, and the median wall is kept.
"""

from __future__ import annotations

import math
import shutil
import statistics
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawl4ai_spark.functions.filters import FilterChain, valid_crawl_url
from crawl4ai_spark.functions.markdown import markdown_udf
from crawl4ai_spark.functions.normalize import with_normalized
from crawl4ai_spark.functions.scrape import (
    CLEAN_OPT_KEYS,
    cleaned_html_udf,
    with_scraped_page,
)
from crawl4ai_spark.operators.ordering import with_global_rank
from crawl4ai_spark.operators.politeness import PolitenessSpec, PolitenessState
from crawl4ai_spark.operators.seen import SeenStore
from crawl4ai_spark.plans.checkpoint import snapshot_round

from tracing import SpanRecorder

# Budget windows wide enough that the hot domain (half of the corpus)
# still defers part of a level while the other six domains mostly fit.
POLITENESS = PolitenessSpec(round_duration=600.0)

# One Spark job over a few thousand cached rows times job scheduling and
# planning, not the operator.  So the captured input is repeated, with
# its ordering key kept unique per copy, up to these many rows: about a
# second of work per call at the rates measured on a 4-vCPU host (in
# the comments).
ROWS = {
    "normalize": 70_000,  # Python (Arrow) UDF, ~70k rows/s
    "filter_score": 120_000,  # ~110k rows/s with the composite scorer
    "seen": 4_000_000,  # broadcast hash probe, ~5M rows/s
    "rank": 200_000,  # ~200k rows/s
    "split": 15_000,  # ~14k rows/s
}
# Each isolated call runs this many times; its median wall is reported.
REPEATS = 3


class LayerTimer:
    """Times isolated calls under spans and keeps, per layer, the rows
    each call processed and every wall, for the run record."""

    def __init__(self, rec: SpanRecorder):
        self.rec = rec
        self.detail: dict[str, dict] = {}
        self.held: list[DataFrame] = []

    def hold(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Cache and count ``df`` (untimed); released by ``release``."""
        df = df.persist()
        self.held.append(df)
        return df, df.count()

    def time(self, name: str, rows: int, force, repeats: int = REPEATS) -> float:
        """Median wall of ``repeats`` calls of ``force``."""
        walls = []
        for _ in range(repeats):
            with self.rec.span(name) as s:
                force()
            walls.append(s["end"] - s["start"])
        self.detail[name] = {"rows": rows, "walls_s": walls}
        return statistics.median(walls)

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def _rate(rows: int, seconds: float) -> float:
    return rows / seconds if seconds > 0 else 0.0


def _repeated(df: DataFrame, rows: int, target: int, key: str) -> DataFrame:
    """``df`` (``rows`` rows) repeated ``ceil(target / rows)`` times, with
    ``key`` rewritten so it stays unique across the copies."""
    k = max(1, math.ceil(target / max(rows, 1)))
    copies = df.sparkSession.range(k).withColumnRenamed("id", "__copy")
    return (
        df.crossJoin(copies)
        .withColumn(key, F.col(key) * k + F.col("__copy"))
        .drop("__copy")
    )


ENGINE_METRICS = (
    "normalize.rows_per_s", "discover.filter_score_rows_per_s",
    "seen.anti_join_rows_per_s", "seen.reject_ratio", "ordering.rank_rows_per_s",
    "politeness.split_rows_per_s", "politeness.update_s",
    "politeness.deferred_ratio", "checkpoint.snapshot_s", "checkpoint.bytes_written",
)


def engine_layers(
    timer: LayerTimer, pages: DataFrame, res: DataFrame, scorer, out_dir: Path
) -> dict[str, float]:
    """Discovery, seen, ordering, politeness and checkpoint layers on
    inputs captured from ``res``: the links of every parent the crawl
    expanded (what its discovery rounds normalized, filtered, scored
    and probed against the seen set) and its deepest level (the last
    frontier), each repeated to a size that times the operator."""
    spark = res.sparkSession
    deepest = res.agg(F.max("depth")).first()[0]

    links = (
        res.filter(F.col("success") & (F.col("depth") < deepest))
        .select("url", "emit_seq", "depth")
        .join(pages.select("url", "links"), "url")
        .select(
            F.col("url").alias("src_url"), "emit_seq", "depth",
            F.posexplode("links").alias("link_idx", "link"),
        )
        .filter(~F.col("link.is_external"))
    )
    base, n_base = timer.hold(links)
    linked, n_linked = timer.hold(
        _repeated(base, n_base, ROWS["normalize"], "emit_seq")
    )
    t_norm = timer.time(
        "normalize.with_normalized", n_linked,
        lambda: with_normalized(linked, "link.href", "src_url")
        .agg(F.count("norm_url")).first(),
    )
    linked.unpersist()  # the large repeated inputs go as soon as timed
    found, n_found = timer.hold(
        with_normalized(base, "link.href", "src_url")
        .filter(F.col("norm_url").isNotNull())
        .drop("link")
    )
    cand, n_cand = timer.hold(
        _repeated(found, n_found, ROWS["filter_score"], "emit_seq")
    )
    url = F.col("norm_url")
    score = scorer.column(url) if scorer is not None else F.lit(0.0)
    t_fs = timer.time(
        "discover.filter_score", n_cand,
        lambda: cand.filter(valid_crawl_url(url) & FilterChain().column(url))
        .agg(F.count("*"), F.sum(score)).first(),
    )

    # the seen set as it stood before the last discovery round; the
    # reject ratio is that round's own, the rate is over every level
    seen = SeenStore(spark)
    seen.add(res.filter(F.col("depth").between(1, deepest - 1)).select("url"))
    last_round = found.filter(F.col("depth") == deepest - 1)
    n_last = last_round.count()
    kept_last = seen.anti_join(last_round, "norm_url").count()
    probe, n_probe = timer.hold(
        _repeated(found, n_found, ROWS["seen"], "emit_seq")
    )
    t_seen = timer.time(
        "seen.anti_join", n_probe,
        lambda: seen.anti_join(probe, "norm_url").count(),
    )
    probe.unpersist()
    survivors, n_surv = timer.hold(seen.anti_join(
        _repeated(found, n_found, ROWS["rank"], "emit_seq"), "norm_url"
    ))
    t_rank = timer.time(
        "ordering.with_global_rank", n_surv,
        lambda: with_global_rank(
            survivors, [F.col("emit_seq"), F.col("link_idx")], "__rank",
            n_rows_hint=n_surv,
        ).agg(F.max("__rank")).first(),
    )

    level = res.filter(F.col("depth") == deepest).select(
        "url", "parent_url", "depth", "score", F.col("emit_seq").alias("seq")
    )
    frontier, n_front = timer.hold(level)
    _, deferred = PolitenessState(spark, POLITENESS).split_budget(frontier)
    n_deferred = deferred.count()
    big, n_big = timer.hold(_repeated(frontier, n_front, ROWS["split"], "seq"))

    def split():
        now, deferred = PolitenessState(spark, POLITENESS).split_budget(big)
        now.count()
        deferred.count()

    t_split = timer.time("politeness.split_budget", n_big, split)
    outcomes, _ = timer.hold(
        res.filter(F.col("depth") == deepest).select("emit_seq", "url", "status_code")
    )
    t_update = timer.time(
        "politeness.update", n_front,
        lambda: PolitenessState(spark, POLITENESS).update(outcomes, deepest),
    )

    ck = out_dir / f"checkpoint-{timer.rec.run_id}"
    seen_df = seen.df

    def snapshot():
        shutil.rmtree(ck, ignore_errors=True)
        snapshot_round(
            str(ck), deepest, n_front, "bfs", seen_df, [], frontier=frontier
        )

    t_snap = timer.time("checkpoint.snapshot_round", n_front, snapshot)
    written = sum(p.stat().st_size for p in ck.rglob("*") if p.is_file())
    shutil.rmtree(ck, ignore_errors=True)
    timer.release()
    return {
        "normalize.rows_per_s": _rate(n_linked, t_norm),
        "discover.filter_score_rows_per_s": _rate(n_cand, t_fs),
        "seen.anti_join_rows_per_s": _rate(n_probe, t_seen),
        "seen.reject_ratio": 1.0 - kept_last / n_last if n_last else 0.0,
        "ordering.rank_rows_per_s": _rate(n_surv, t_rank),
        "politeness.split_rows_per_s": _rate(n_big, t_split),
        "politeness.update_s": t_update,
        "politeness.deferred_ratio": n_deferred / n_front if n_front else 0.0,
        "checkpoint.snapshot_s": t_snap,
        "checkpoint.bytes_written": float(written),
    }


CONTENT_METRICS = (
    "scrape.pages_per_s", "clean.pages_per_s", "markdown.pages_per_s",
    "api.crawl_only_s", "content.parts_over_composed",
)


def content_layers(
    timer: LayerTimer, wl, res: DataFrame, composed_s: float
) -> dict[str, float]:
    """The three content UDFs, each alone over the html of the pages the
    crawl emitted (its own input, not repeated, so the parts can be set
    against the whole) with the options ``WebCrawler`` gives them for
    the workload's config, plus the same crawl without the content tier.
    Their walls summed over the composed crawl's wall shows how well the
    parts account for the whole."""
    pages, n = timer.hold(
        res.select("url").join(wl.html.select("url", "html"), "url")
    )
    u, h = F.col("url"), F.col("html")
    options = wl.scrape_options
    clean_opts = {k: v for k, v in options.items() if k in CLEAN_OPT_KEYS}
    t_scrape = timer.time(
        "scrape.with_scraped_page", n,
        lambda: with_scraped_page(pages, **options).agg(F.count("scraped")).first(),
    )
    t_clean = timer.time(
        "scrape.cleaned_html_udf", n,
        lambda: pages.select(cleaned_html_udf(**clean_opts)(u, h).alias("c"))
        .agg(F.count("c")).first(),
    )
    t_md = timer.time(
        "markdown.markdown_udf", n,
        lambda: pages.select(markdown_udf()(u, h).alias("m"))
        .agg(F.count("m")).first(),
    )
    timer.release()

    def crawl_only():
        only = wl.crawl(wl.seeds, None, wl.size.depth, content=False).persist()
        only.count()
        only.unpersist()

    t_only = timer.time("api.crawl_only", n, crawl_only, repeats=2)
    return {
        "scrape.pages_per_s": _rate(n, t_scrape),
        "clean.pages_per_s": _rate(n, t_clean),
        "markdown.pages_per_s": _rate(n, t_md),
        "api.crawl_only_s": t_only,
        "content.parts_over_composed": (t_scrape + t_clean + t_md + t_only) / composed_s,
    }
