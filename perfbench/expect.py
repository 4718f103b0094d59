"""Expected per-round results from ``plans.oracle.simulate``, cached per
(workload, seed), and the digests a crawl is checked against.

The worker records, after every crawl, a summary of the engine's
results (``engine_summary``); once the worker has exited, ``run.py``
builds or loads the expectation from the parquet inputs the worker
wrote and compares (``count_failed``):

- the per-round batch count (for the set-up crawl too);
- a digest of the per-round ``first_seen_round`` URL set;
- a digest of the final frontier ``(url, state)``.

The oracle runs without Spark and outside the measured process tree,
so neither a cache miss nor its pandas copies touch any metric.

``simulate`` canonicalizes one URL at a time through
``canonicalize_url``, which builds a one-row pandas Series per call;
that single call is most of the oracle's run time.  While it runs, the
oracle module's ``canonicalize_url`` is pointed at a table filled by
one vectorized ``canonicalize_series`` call over every URL the input
can produce (page URLs, seed URLs and every extracted outlink).
``canonicalize_url`` itself delegates to ``canonicalize_series``, so
the answers are the same; URLs missing from the table fall through to
the original function.
"""

from __future__ import annotations

import hashlib
import json
import os

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_cache")
CACHE_VERSION = 1


def digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _summarize(batches, seen: dict, frontier: dict) -> dict:
    by_round: dict[int, list[str]] = {}
    for url, rnd in seen.items():
        by_round.setdefault(int(rnd), []).append(url)
    return {
        "batch_counts": [len(b) for b in batches],
        "seen_digests": [digest(by_round.get(r, [])) for r in range(1, len(batches) + 1)],
        "frontier_digest": digest(f"{u}\t{s}" for u, s in frontier.items()),
    }


def simulate(inputs_dir: str, n_rounds: int) -> dict:
    """Run the oracle over the workload's parquet tables; returns the
    summary for rounds ``1 .. n_rounds``."""
    import pandas as pd

    from pyppeteer_scraper_spark.functions.canonicalize import canonicalize_series
    from pyppeteer_scraper_spark.plans import oracle
    from pyppeteer_scraper_spark.plans.extract import extract_pdf

    pages_pdf, seeds_pdf, robots_pdf = (
        pd.read_parquet(os.path.join(inputs_dir, name)) for name in ("pages", "seeds", "robots")
    )
    links = extract_pdf(pages_pdf[["url", "html", "lang"]])["links"].explode().dropna()
    urls = pd.Series(pd.unique(pd.concat([pages_pdf["url"], seeds_pdf["url"], links]).astype(str)))
    table = dict(zip(urls, canonicalize_series(urls).astype(object)))
    original = oracle.canonicalize_url
    oracle.canonicalize_url = lambda u: table[u] if u in table else original(u)
    try:
        res = oracle.simulate(pages_pdf, seeds_pdf, robots_pdf, n_rounds)
    finally:
        oracle.canonicalize_url = original
    return _summarize(res.batches, res.seen, {u: r["state"] for u, r in res.frontier.items()})


def load_or_build(workload, seed: int, inputs_dir: str, n_rounds: int) -> tuple[dict, bool]:
    """Cached expectation for (workload, seed); built and stored on a
    miss.  Returns (expectation, cache_hit)."""
    key = {"version": CACHE_VERSION, "seed": seed, "n_rounds": n_rounds, **workload.config()}
    path = os.path.join(CACHE_DIR, f"{workload.name}-seed{seed}.json")
    if os.path.isfile(path):
        with open(path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["expected"], True
    expected = simulate(inputs_dir, n_rounds)
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"key": key, "expected": expected}, f)
    os.replace(tmp, path)
    return expected, False


def engine_summary(state, batch_counts: list[int], first_round: int, final: bool = True) -> dict:
    """The same summary computed from a crawl's final state, for the
    rounds the crawl ran.  The frontier is only compared when the crawl
    ran to the oracle's last round (``final``)."""
    seen_rows = state.url_seen.select("url", "first_seen_round").collect()
    by_round: dict[int, list[str]] = {}
    for r in seen_rows:
        by_round.setdefault(int(r["first_seen_round"]), []).append(r["url"])
    rounds = range(first_round, first_round + len(batch_counts))
    summary = {
        "first_round": first_round,
        "batch_counts": list(batch_counts),
        "seen_digests": [digest(by_round.get(r, [])) for r in rounds],
        "frontier_digest": None,
    }
    if final:
        frontier = state.frontier.select("url", "state").collect()
        summary["frontier_digest"] = digest(f"{r['url']}\t{r['state']}" for r in frontier)
    return summary


def failed_rounds(expected: dict, got: dict) -> list[int]:
    """Round numbers of one crawl whose results differ from the oracle.
    A frontier mismatch is charged to the crawl's last round; a crawl
    that raised (``got["raised"]``) fails all its rounds."""
    first = got["first_round"]
    if got.get("raised"):
        return list(range(first, first + got["rounds"]))
    failed = []
    for i, n in enumerate(got["batch_counts"]):
        rnd = first + i
        if n != expected["batch_counts"][rnd - 1] or got["seen_digests"][i] != expected["seen_digests"][rnd - 1]:
            failed.append(rnd)
    last = first + len(got["batch_counts"]) - 1
    if got["frontier_digest"] not in (None, expected["frontier_digest"]) and last not in failed:
        failed.append(last)
    return failed
