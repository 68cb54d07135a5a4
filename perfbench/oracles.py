"""Independent expectations every measured crawl is checked against.

- Emission order, depth, parent, score, success and status: the
  pure-Python traversal oracle ``crawl4ai_spark.oracle.crawl_oracle``
  over ``corpus.pages_dict`` (the html corpus serializes the same
  graph, so it covers ``content_crawl`` too).
- Content tier: the DuckDB mirrors ``scrape_expected_sql`` and
  ``markdown_expected_sql``, which derive every scraped fact and every
  markdown fingerprint from the corpus arithmetic without parsing HTML.

Expectations are computed once per run (all measured crawls of a run
share one seed set) and outside every timed region.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawl4ai_spark.functions.text import fingerprint
from crawl4ai_spark.oracle import CrawlSpec as OracleSpec
from crawl4ai_spark.oracle import Page
from crawl4ai_spark.oracle import crawl_oracle
from crawl4ai_spark.sources import corpus
from crawl4ai_spark.sources.html_corpus import (
    markdown_expected_sql,
    scrape_expected_sql,
)

EMIT_COLS = [
    "emit_seq", "url", "depth", "parent_url", "score", "success", "status_code",
]
SEP = "\x1f"
NULL = "\\N"


def reachable_pages(
    n_pages: int, branching: int, seeds: list[str], max_depth: int
) -> dict:
    """The part of ``corpus.pages_dict(n_pages, branching)`` a crawl
    from ``seeds`` can fetch: each page within ``max_depth`` links of a
    seed, built as ``pages_dict`` builds it, which would build every
    page.  A crawl that reached past this part would fetch a page the
    oracle lacks and fail the check, never pass it."""
    level = {int(u.rsplit("/doc-", 1)[1].split(".")[0]) for u in seeds}
    ids = set(level)
    for _ in range(max_depth):
        level = {
            c for i in level for c in corpus.py_children(i, n_pages, branching)
        } - ids
        ids |= level
    pages = {}
    for i in ids:
        links = [
            (corpus.py_href(i, c, j + 1), False)
            for j, c in enumerate(corpus.py_children(i, n_pages, branching))
        ]
        links += [(e, True) for e in corpus.py_external(i)]
        status = corpus.py_status(i)
        url = corpus.py_canonical_url(i)
        pages[url] = Page(url=url, status_code=status, success=status == 200, links=links)
    return pages


def expected_emissions(
    n_pages: int, branching: int, seeds: list[str], **spec
) -> list[tuple]:
    pages = reachable_pages(n_pages, branching, seeds, spec["max_depth"])
    emissions, _ = crawl_oracle(pages, seeds, OracleSpec(**spec))
    return [
        (e.seq, e.url, e.depth, e.parent_url, e.score, e.success, e.status_code)
        for e in emissions
    ]


def emitted(res: DataFrame) -> list[tuple]:
    return [tuple(r) for r in res.select(*EMIT_COLS).orderBy("emit_seq").collect()]


def doc_id(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), r"/doc-(\d+)", 1).cast("long")


# -- content tier ------------------------------------------------------------

def _fact_key_sql() -> str:
    parts = ["CAST(doc_id AS VARCHAR)", "kind"]
    parts += [f"COALESCE(CAST({k} AS VARCHAR), '{NULL}')" for k in
              ("k1", "k2", "k3", "k4", "n1", "n2", "n3")]
    parts.append("CAST(flag AS VARCHAR)")
    return f"concat_ws(chr(31), {', '.join(parts)})"


def expected_content(n_pages: int, doc_ids: list[int]) -> tuple[Counter, Counter]:
    """(markdown rows, scraped facts) the crawl's result rows must carry,
    as multisets: ``doc_ids`` lists every emitted row, and a page
    emitted twice (a link back to a seed re-crawls it) carries its
    content twice."""
    times = Counter(doc_ids)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE TABLE documents AS SELECT range AS doc_id FROM range({n_pages})"
        )
        con.register("crawled", pd.DataFrame({"doc_id": sorted(times)}))
        md = con.execute(
            f"SELECT doc_id, raw_fp, cit_fp, ref_fp, n_refs "
            f"FROM ({markdown_expected_sql()}) m "
            f"WHERE doc_id IN (SELECT doc_id FROM crawled)"
        ).fetchall()
        facts = con.execute(
            f"SELECT doc_id, {_fact_key_sql()} FROM ({scrape_expected_sql(n_pages)}) s "
            f"WHERE doc_id IN (SELECT doc_id FROM crawled)"
        ).fetchall()
    finally:
        con.close()
    want_md, want_facts = Counter(), Counter()
    for r in md:
        want_md[tuple(int(v) for v in r)] += times[r[0]]
    for doc, key in facts:
        want_facts[key] += times[doc]
    return want_md, want_facts


def markdown_rows(res: DataFrame) -> Counter:
    rows = res.select(
        doc_id(),
        fingerprint(F.col("markdown.raw_markdown")),
        fingerprint(F.col("markdown.markdown_with_citations")),
        fingerprint(F.col("markdown.references_markdown")),
        F.regexp_count(F.col("markdown.references_markdown"), F.lit("⟨")),
    ).collect()
    return Counter(tuple(int(v) for v in r) for r in rows)


def scraped_facts(res: DataFrame) -> Counter:
    """The long-format fact rows of ``scrape_expected_sql`` rebuilt from
    the crawl's ``scraped`` column, one string key per fact."""
    sc = res.select(doc_id().alias("doc_id"), "scraped")
    s, i = F.lit(None).cast("string"), F.lit(None).cast("int")

    def rows(src, kind, k1, k2, k3, k4, n1, n2, n3, flag):
        return src.select(
            "doc_id", F.lit(kind).alias("kind"), k1.alias("k1"), k2.alias("k2"),
            k3.alias("k3"), k4.alias("k4"), n1.alias("n1"), n2.alias("n2"),
            n3.alias("n3"), flag.alias("flag"),
        )

    x = F.col("x")
    links = rows(
        sc.select("doc_id", F.explode("scraped.links").alias("x")), "link",
        x["href"], x["text"], x["title"], x["base_domain"],
        F.floor(x["intrinsic_score"] * 1e6).cast("int"), i, i, x["is_external"],
    )
    images = rows(
        sc.select("doc_id", F.explode("scraped.media.images").alias("x")), "image",
        x["src"], x["alt"], x["desc"], x["format"], x["score"], x["width"], x["group_id"], F.lit(False),
    )
    av = [
        rows(
            sc.select("doc_id", F.explode(f"scraped.media.{field}").alias("x")),
            kind, x["src"], x["alt"], x["desc"], s, i, i, i, F.lit(False),
        )
        for field, kind in (("videos", "video"), ("audios", "audio"))
    ]
    tables = rows(
        sc.select("doc_id", F.explode("scraped.media.tables").alias("t")).select(
            "doc_id", "t", F.posexplode("t.rows").alias("ridx", "r")
        ),
        "table", F.array_join("t.headers", "|"), F.array_join("r", "|"),
        F.col("t.caption"), F.col("t.table_id"), F.col("ridx").cast("int"),
        F.col("t.row_count"), F.col("t.column_count"), F.col("t.has_headers"),
    )
    meta = rows(
        sc.select("doc_id", F.explode("scraped.metadata").alias("mk", "mv")),
        "meta", F.col("mk"), F.col("mv"), s, s, i, i, i, F.lit(False),
    )
    facts = links
    for part in (images, *av, tables, meta):
        facts = facts.unionByName(part)
    key = F.concat_ws(
        SEP,
        F.col("doc_id").cast("string"), F.col("kind"),
        *[F.coalesce(F.col(c).cast("string"), F.lit(NULL))
          for c in ("k1", "k2", "k3", "k4", "n1", "n2", "n3")],
        F.col("flag").cast("string"),
    )
    return Counter(facts.select(key.alias("k")).toPandas()["k"])
