"""The three workloads: each turns its generated inputs into the list of
operations that make one pass, and checks every operation's output.

An operation calls only public layer functions of the program:

- crawl_sink: ``crawl.crawl`` with an owners map, then
  ``sources.lake.write_crawl``; checked against the tree manifest (entry
  count, total bytes) and by reading the lake back (``read_files``);
- report_menu: ``cli.main(["report", ...])`` for one action; checked by
  the row count the lake generator knows for that action;
- llm_ops_sf01: ``plans.registry.QUERIES[name].builder`` then
  ``collect()``; checked against the DuckDB oracle fingerprint (row count
  plus an order-insensitive hash of the values).
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
from dataclasses import dataclass
from typing import Any, Callable

from oracle import fingerprint
from sizes import REPORT_ACTIONS, TAG, llm_queries


@dataclass
class Op:
    label: str
    run: Callable[[Any, int], Any]       # (tracer, op id) -> result
    check: Callable[[Any], str | None]   # result -> error message or None
    before: Callable[[], None] = lambda: None  # untimed reset before the op


def crawl_sink(spark, inputs: dict, work: str) -> list[Op]:
    from storage_crawler_spark.config import CrawlConfig
    from storage_crawler_spark.crawl import crawl
    from storage_crawler_spark.sources import read_files, write_crawl

    lake = os.path.join(work, "lake")
    config = CrawlConfig(dirs=[inputs["root"]], owners=inputs["owners"], tag=TAG)

    def run(tr, op):
        with tr.span("crawl", op) as s:
            result = crawl(spark, config)
            s.attrs.update(levels=result.summary["depth"], entries=result.summary["files"])
        with tr.span("lake.write", op) as s:
            tag_dir = write_crawl(result, lake, tag=TAG)
            if tr.enabled:
                s.attrs["files_written"] = len(glob.glob(os.path.join(tag_dir, "files", "*.parquet")))
        return result.summary

    def check(summary):
        got_bytes = round(summary["total_tb"] * 1024**4)
        readback = read_files(spark, lake, TAG).count()
        want = (inputs["entries"], inputs["total_bytes"], inputs["entries"])
        if (summary["files"], got_bytes, readback) != want:
            return (f"entries/bytes/readback {summary['files']}/{got_bytes}/{readback}"
                    f" != {want[0]}/{want[1]}/{want[2]}")
        return None

    return [Op("crawl+sink", run, check)]


def report_menu(spark, inputs: dict, work: str) -> list[Op]:
    from storage_crawler_spark import cli

    def make(action: str) -> Op:
        def run(tr, op):
            out = io.StringIO()
            with tr.span(f"report.{action}", op), contextlib.redirect_stdout(out):
                rc = cli.main(["report", "--tag", TAG, "--lake", inputs["lake"], action])
            return rc, out.getvalue()

        def check(result):
            rc, text = result
            rows = text.count("\n") - 1  # header line first
            want = inputs["expected"][action]
            return None if rc == 0 and rows == want else f"rc={rc} rows {rows} != {want}"

        return Op(action, run, check)

    return [make(a) for a in REPORT_ACTIONS]


def llm_ops_sf01(spark, inputs: dict, work: str) -> list[Op]:
    from storage_crawler_spark.plans.registry import QUERIES

    def make(name: str) -> Op:
        def run(tr, op):
            with tr.span(f"q.{name}.plan", op):
                df = QUERIES[name].builder(spark, inputs["tables"])
                if tr.enabled:
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"q.{name}.exec", op):
                rows = df.collect()
            return df.columns, rows

        def check(result):
            cols, rows = result
            got = fingerprint(rows, cols)
            n, want_cols, digest = inputs["expected"][name]  # JSON round trip
            want = (n, tuple(want_cols), digest)
            return None if got == want else f"fingerprint {got} != {want}"

        # every query pays its own persists, as in bench.py
        return Op(name, run, check, before=spark.catalog.clearCache)

    return [make(n) for n in llm_queries()]


def enrich(spark, inputs: dict, work: str, tr, op: int) -> None:
    """Traced-run layer probe for crawl_sink: the ``functions`` pandas UDFs
    (extension, owner) over the paths the crawl wrote, forced by a no-op
    write so no output is collected."""
    from pyspark.sql import functions as F
    from storage_crawler_spark.functions.owners import owner_col, parse_owners_file
    from storage_crawler_spark.functions.paths import extension_col
    from storage_crawler_spark.sources import read_files

    with open(inputs["owners"]) as fh:
        owners = parse_owners_file(fh)
    paths = read_files(spark, os.path.join(work, "lake"), TAG).select("path")
    with tr.span("functions.enrich", op):
        paths.select(extension_col(F.col("path")), owner_col(spark, F.col("path"), owners)) \
            .write.format("noop").mode("overwrite").save()


WORKLOADS = {"crawl_sink": crawl_sink, "report_menu": report_menu,
             "llm_ops_sf01": llm_ops_sf01}
