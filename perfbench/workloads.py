"""Workload definitions and seeded input generation.

Every workload starts from the sf0.1 ``documents`` table shipped in
``perfbench/data`` (5,000 rows), replicated ``replicas`` times.  The
seed permutes the ``doc_id`` of the replicated rows, which moves each
document's text and language to another host, link neighbourhood and
payload kind, because ``sources.datagen`` derives all of those from
``doc_id``.  The URL graph itself is a function of ``0 .. n-1`` and is
the same for every seed, so every seed does the same crawl work over
different page contents.  The program under test only ever receives
the ``generate_pages`` / ``generate_seeds`` / ``generate_robots``
DataFrames, read back from parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

# Caps opened and delays zeroed: every pending URL is fetched the round
# it is found (select_batch takes its no-ranking passthrough branch).
OPEN_ROBOTS = {
    "mega_cap": 1_000_000,
    "default_cap": 1_000_000,
    "parity_cap": 1_000_000,
    "mega_delay_ms": 0,
    "default_delay_ms": 0,
}


# Each run crawls SETUP_ROUNDS untimed rounds into a set-up checkpoint
# (this is also the process's warm-up crawl); every timed crawl then
# resumes a fresh copy of it for TIMED_ROUNDS rounds, the way each cron
# run of the reference re-reads its state and continues.  One of each is
# what the run budget allows (README.md, "Sizes").
SETUP_ROUNDS = 1
TIMED_ROUNDS = 1


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    replicas: int  # copies of the sf0.1 documents table
    seed_share: float  # share of documents seeded (1.0 = every URL)
    robots: dict = field(default_factory=dict)  # generate_robots keywords
    use_bloom: bool = False

    def config(self) -> dict:
        """Everything the expected results depend on (oracle cache key)."""
        return {
            "replicas": self.replicas,
            "seed_share": self.seed_share,
            "robots": dict(sorted(self.robots.items())),
            "setup_rounds": SETUP_ROUNDS,
            "rounds": TIMED_ROUNDS,
        }


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="polite_recrawl",
            why="cron steady state: every URL seeded under default robots caps and "
            "delays, so per-domain top-k ranking and per-round fixed cost dominate",
            replicas=1,
            seed_share=1.0,
            robots={"slow_tier_mod": 7},
        ),
        Workload(
            name="resume_seen_filter",
            why="discovery round with caps opened and use_bloom=True: builds, "
            "probes and updates the bloom sidecar over thousands of fresh links",
            replicas=3,
            seed_share=0.2,
            robots=OPEN_ROBOTS,
            use_bloom=True,
        ),
    ]
}


def documents(seed: int, replicas: int) -> pd.DataFrame:
    """The sf0.1 documents replicated ``replicas`` times, ``doc_id``
    a seeded permutation of ``0 .. n-1``."""
    base = pd.read_parquet(DOCUMENTS, columns=["text", "lang"])
    n = len(base) * replicas
    docs = base.iloc[np.arange(n) % len(base)].reset_index(drop=True)
    docs.insert(0, "doc_id", np.random.RandomState(seed).permutation(n).astype("int64"))
    return docs


def generate(spark, wl: Workload, seed: int, out_dir: str):
    """Write the workload's pages / seeds / robots parquet under
    ``out_dir`` and return them read back, plus input statistics."""
    from pyppeteer_scraper_spark.sources import datagen

    docs = documents(seed, wl.replicas)
    n_docs = len(docs)
    ddf = spark.createDataFrame(docs)
    pages = datagen.generate_pages(ddf, n_docs)
    seeds = datagen.generate_seeds(ddf, n_docs, n_seeds=max(1, round(n_docs * wl.seed_share)))
    robots = datagen.generate_robots(pages, **wl.robots)
    tables = {}
    for name, df in (("pages", pages), ("seeds", seeds), ("robots", robots)):
        path = os.path.join(out_dir, name)
        df.write.mode("overwrite").parquet(path)
        tables[name] = spark.read.schema(df.schema).parquet(path)
    return tables, input_stats(out_dir, n_docs)


def input_stats(out_dir: str, n_docs: int) -> dict:
    """Pages, domains, seeds and mega-host share of the written tables
    (robots has one row per domain of the pages)."""
    import pyarrow.parquet as pq

    from pyppeteer_scraper_spark.sources.datagen import MEGA_HOST

    urls = pq.read_table(os.path.join(out_dir, "pages"), columns=["url"]).column("url").to_pylist()
    on_mega = sum(u.split("://", 1)[1].split("/", 1)[0].lower() == MEGA_HOST for u in urls)
    return {
        "documents": n_docs,
        "pages": len(urls),
        "domains": pq.read_table(os.path.join(out_dir, "robots")).num_rows,
        "seeds": pq.read_table(os.path.join(out_dir, "seeds")).num_rows,
        "mega_host_share": on_mega / len(urls),
    }
