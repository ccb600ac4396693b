"""Input sizes per workload, for measured runs and for the smoke mode, and
the names the generators and the workloads share."""

from __future__ import annotations

# lake tag of the crawl_sink write and of the generated report_menu lake
TAG = "bench"

SIZES = {
    # one crawl root; directories hold ~40 files on average, lognormal-skewed.
    # A pass costs ~5.4 s and ~19 CPU-s whatever the size (frontier levels,
    # job start-up, the write) plus ~0.022 ms and ~0.085 CPU-ms per entry, so
    # at this size about 30% of a pass scales with the entry count.
    "crawl_sink": {"run": {"entries": 100_000}, "smoke": {"entries": 400}},
    # files rows of one lake tag (status rows come on top: ~4k)
    "report_menu": {"run": {"rows": 300_000}, "smoke": {"rows": 2_000}},
    # TPC-H scale factor of the generated tables; documents/embeddings rows.
    # A pass costs ~11 s and ~30 CPU-s of per-query fixed cost; doubling
    # every table from sf 0.01 and 500 documents added ~2 s and ~6 CPU-s,
    # nearly all of it from the documents.
    "llm_ops_sf01": {
        "run": {"sf": 0.02, "documents": 1000, "embeddings": 1000},
        "smoke": {"sf": 0.001, "documents": 100, "embeddings": 100},
    },
}

# Untimed warm-up passes before measuring.  crawl_sink's first pass after
# one warm-up still carried ~4-5 CPU-s of JIT compilation more than the
# passes after it (28.8 CPU-s, then 24.1-24.7), so it gets a second one.
# llm_ops_sf01 keeps one: a second made its runs ~69 s long and its CPU
# per pass spread more between runs, as its JIT work goes on for passes.
WARMUP_PASSES = {"crawl_sink": 2, "report_menu": 1, "llm_ops_sf01": 1}

# The report actions of one report_menu pass, in order.
REPORT_ACTIONS = ("status-brief", "status-averages", "status-events", "1000",
                  "large_old_files", "du", "extension-usage", "owner-usage",
                  "schema-all")

# Registry entries run after the headline set: the pandas-UDF-heavy dedup
# and text operators.
LLM_EXTRA = ("dedup_simhash_pairs", "dedup_winnow_pairs", "text_rake_keywords",
             "text_inverted_index")


def size_of(workload: str, smoke: bool) -> dict:
    return SIZES[workload]["smoke" if smoke else "run"]


def llm_queries() -> list[str]:
    from storage_crawler_spark.plans.registry import headline_queries

    return list(headline_queries()) + [q for q in LLM_EXTRA if q not in headline_queries()]
