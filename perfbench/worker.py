"""One benchmark run inside one Spark driver process.

Started by ``run.py``, which samples this process tree's memory from
outside, checks the recorded crawl summaries against the oracle once
this process has exited, and prints the final result line.  Writes its
metrics and crawl summaries as JSON to ``--result``; exits non-zero
without a result when set-up fails.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import expect  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from workloads import SETUP_ROUNDS, TIMED_ROUNDS  # noqa: E402

MB = 1 << 20
SETTLE_S = 0.5
# --seconds buys one timed crawl per CRAWL_S (at least one): a fixed
# count, so a faster program gets no more, and no warmer, samples.
CRAWL_S = 10


def timed_crawl(spark, wl, tables, ckpt_dir, tracer=None):
    """One resuming ``crawl()`` with round clocks (and spans when
    ``tracer``)."""
    from pyppeteer_scraper_spark.plans import checkpoint as ck

    clock = layers.RoundClock()
    with contextlib.ExitStack() as stack:
        if tracer is not None:
            tracer.round = None
            layers.install_crawl_spans(tracer, stack)
        clock.install(stack)
        t0 = time.perf_counter()
        res = ck.crawl(
            spark, tables["pages"], tables["seeds"], tables["robots"],
            n_rounds=TIMED_ROUNDS, ckpt_dir=ckpt_dir, resume=True,
            use_bloom=wl.use_bloom, async_checkpoint=True,
        )
        t1 = time.perf_counter()
    return res, {
        "t0": t0,
        "t1": t1,
        "wall_s": t1 - t0,
        "fetched": sum(res.fetched_per_round),
        "batch_counts": list(res.fetched_per_round),
        "round_s": clock.round_seconds(t1),
        "first_batch_s": clock.first_batch_end - t0,
    }


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.work = args.work
        self.tracer = layers.Tracer() if args.trace else None
        self.checks: list[dict] = []  # engine summaries, one per crawl
        self.crawls: list[dict] = []
        self.detail: dict = {}

    def span(self, name):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    # --- set-up ------------------------------------------------------

    def setup(self):
        from pyppeteer_scraper_spark.session import get_spark

        wl = self.wl
        t_start = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        with self.span("session.get_spark"):
            self.spark = get_spark("perfbench", cores=cores)
        spark_s = time.perf_counter() - t_start
        conf = self.spark.sparkContext.getConf()
        self.detail["spark"] = {
            "master": conf.get("spark.master"),
            "driver_memory": conf.get("spark.driver.memory"),
            "local_dir": os.path.relpath(conf.get("spark.local.dir")),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
        }

        t = time.perf_counter()
        with self.span("sources.datagen.generate"):
            tables, stats = workloads.generate(
                self.spark, wl, self.args.seed, os.path.join(self.work, "inputs")
            )
        gen_s = time.perf_counter() - t
        self.tables = tables
        self.detail["inputs"] = stats

        # The set-up crawl is also the warm-up: the first crawl in a
        # process runs 25-40 % slower.
        from pyppeteer_scraper_spark.plans.checkpoint import crawl

        self.setup_ckpt = os.path.join(self.work, "setup_ckpt")
        t = time.perf_counter()
        res = crawl(
            self.spark, tables["pages"], tables["seeds"], tables["robots"],
            n_rounds=SETUP_ROUNDS, ckpt_dir=self.setup_ckpt, async_checkpoint=True,
        )
        warmup_s = time.perf_counter() - t
        self.setup_s = time.perf_counter() - t_start
        self.checks.append(expect.engine_summary(res.state, res.fetched_per_round, 1, final=False))
        self.detail["setup"] = {
            "spark_s": round(spark_s, 3),
            "generate_s": round(gen_s, 3),
            "warmup_s": round(warmup_s, 3),
        }

    # --- timed crawls ------------------------------------------------

    def fresh_ckpt(self, name):
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(self.setup_ckpt, path)
        return path

    def settle(self):
        """Collect garbage on both sides of py4j and pause, so the Spark
        cleaner drops the previous crawl's shuffles and blocks, and
        queued JIT compiles finish, before the next timed crawl."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)

    def crawl_and_record(self, name, tracer=None):
        """One timed crawl on a fresh checkpoint copy; its engine summary
        goes to ``self.checks`` (untimed).  Returns (metrics, checkpoint
        dir), or (None, None) when the crawl raised."""
        ckpt = self.fresh_ckpt(name)
        self.settle()
        first = SETUP_ROUNDS + 1
        before = layers.written_bytes(ckpt)
        try:
            res, m = timed_crawl(self.spark, self.wl, self.tables, ckpt, tracer)
        except Exception as e:  # noqa: BLE001 — a raising crawl fails all its rounds
            print(f"crawl {name} raised: {e!r}", file=sys.stderr)
            self.checks.append({"first_round": first, "rounds": TIMED_ROUNDS, "raised": True})
            shutil.rmtree(ckpt, ignore_errors=True)
            return None, None
        self.checks.append(expect.engine_summary(res.state, m["batch_counts"], first))
        m["checkpoint_bytes"] = layers.written_bytes(ckpt)
        m["written_bytes"] = m["checkpoint_bytes"] - before
        return m, ckpt

    def measure(self):
        for i in range(max(1, round(self.args.seconds / CRAWL_S))):
            m, ckpt = self.crawl_and_record(f"ckpt{i}")
            if m is None:
                break
            shutil.rmtree(ckpt, ignore_errors=True)
            self.crawls.append(m)

    def end_to_end(self) -> dict:
        rounds = [r for c in self.crawls for r in c["round_s"]]
        med = lambda key: statistics.median(c[key] for c in self.crawls)  # noqa: E731
        self.detail["crawls"] = [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in c.items() if k not in ("t0", "t1")}
            for c in self.crawls
        ]
        # round_s.tail, the highest percentile with at least ten samples
        # beyond it, would need more than ten rounds in one run
        self.detail["round_s"] = {"samples": len(rounds), "p50": statistics.median(rounds), "tail": None}
        return {
            "setup_s": (self.setup_s, "s"),
            "fetch_urls_per_s": (statistics.median(c["fetched"] / c["wall_s"] for c in self.crawls), "1/s"),
            "round_s.p50": (statistics.median(rounds), "s"),
            "first_batch_s": (med("first_batch_s"), "s"),
            "checkpoint_mb": (med("checkpoint_bytes") / MB, "MB"),
        }

    # --- traced crawl ------------------------------------------------

    def traced(self) -> dict:
        """One untraced crawl (the baseline of the tracing overhead), one
        traced crawl, then the layer probe of its last round over the
        traced crawl's own checkpoint."""
        from pyspark.sql import functions as F

        from pyppeteer_scraper_spark.plans.checkpoint import load_state
        from pyppeteer_scraper_spark.plans.round import round_ts

        tr = self.tracer
        m, ckpt = self.crawl_and_record("untraced")
        if m is None:
            raise RuntimeError("untraced crawl raised")
        shutil.rmtree(ckpt, ignore_errors=True)
        untraced = m["fetched"] / m["wall_s"]
        tr.jobs = layers.JobCounter(self.spark.sparkContext)
        with tr.span("plans.checkpoint.crawl"):
            m, ckpt = self.crawl_and_record("traced", tracer=tr)
        if m is None:
            raise RuntimeError("traced crawl raised")
        jobs = tr.jobs.counts(tr.first_job, tr.jobs.last_job(), skip=tr.own_jobs)
        first = SETUP_ROUNDS + 1
        rounds = list(range(first, first + TIMED_ROUNDS))

        # counts read back from the checkpoint after the crawl, so they
        # add no Spark jobs to the traced rounds
        start = load_state(self.spark, ckpt, SETUP_ROUNDS)
        counts = {
            "load_state_rows": start.frontier.count() + start.url_seen.count() + start.workshops.count(),
        }
        frontier = load_state(self.spark, ckpt).frontier
        for r in rounds:
            counts[r] = frontier.filter(F.col("discovered_ts") == round_ts(r)).count()

        args, kwargs = tr.run_round_call
        probe_args = dict(kwargs, pages_prepared=args[0], robots=args[1])
        pages = [probe_args[k] for k in ("pages_prepared", "pages_fallback") if probe_args.get(k) is not None]
        for df in pages:
            df.cache().count()
        t = time.perf_counter()
        # rebuilding a round costs about as much as running it: probe the
        # last timed round only
        probe = layers.probe_round(self.spark, ckpt, rounds[-1], probe_args)
        probe_s = time.perf_counter() - t
        for df in pages:
            df.unpersist()
        shutil.rmtree(ckpt, ignore_errors=True)
        return self.layer_metrics(m, rounds, probe, jobs, counts, probe_s, untraced)

    def layer_metrics(self, m, rounds, probe, jobs, counts, probe_s, untraced) -> dict:
        tr, n = self.tracer, len(rounds)
        selfs = tr.self_times()
        crawl = next(s for s in tr.spans if s["name"] == "plans.checkpoint.crawl")
        spans = sorted(
            ((s, t) for s, t in selfs if s is not crawl and crawl["start"] <= s["start"] <= crawl["end"]),
            key=lambda st: st[0]["start"],
        )

        def per_round(name):
            return sum(t for s, t in spans if s["name"] == name and s["round"] in rounds) / n

        def once(name):
            return sum(t for s, t in spans if s["name"] == name)

        def last(name, rnd, edge):
            xs = [s[edge] for s, _ in spans if s["name"] == name and s["round"] == rnd]
            return max(xs) if xs else None

        # prepare_pages returns a lazy plan; crawl() fills the page caches
        # right after it, so its span runs to the next layer call.
        prep = next(s for s, _ in spans if s["name"] == "plans.checkpoint.prepare_pages")
        nxt = next((s for s, _ in spans if s["start"] > prep["end"]), None)
        prepare_s = (nxt["start"] if nxt else m["t1"]) - prep["start"]

        # How long the crawl waited on a round's checkpoint write: past the
        # end of the next round's pins (where the next write must start),
        # or, for the last round, for the whole write (crawl() joins it
        # before returning).
        waits = []
        for r in rounds:
            save_start, save_end = last("plans.checkpoint.save_state", r, "start"), last("plans.checkpoint.save_state", r, "end")
            if save_end is None:
                continue
            ready = last("plans.checkpoint.pin", r + 1, "end") if r != rounds[-1] else save_start
            waits.append(max(0.0, save_end - ready))

        pages, extract_s = probe["plans.extract.pages"], probe["plans.extract.extract_pages_s"]
        links = probe["functions.canonicalize.links"]
        probes = tr.counts["operators.bloom.probes"]
        out = {
            "session.get_spark_s": (self.detail["setup"]["spark_s"], "s"),
            "sources.datagen.generate_s": (self.detail["setup"]["generate_s"], "s"),
            "plans.checkpoint.prepare_pages_s": (prepare_s, "s"),
            "plans.checkpoint.load_state_s": (once("plans.checkpoint.load_state"), "s"),
            "plans.checkpoint.load_state_rows": (counts["load_state_rows"], "count"),
            "plans.checkpoint.pin_s": (per_round("plans.checkpoint.pin"), "s"),
            "plans.checkpoint.save_state_s": (per_round("plans.checkpoint.save_state"), "s"),
            "plans.checkpoint.written_mb": (m["written_bytes"] / MB, "MB"),
            "plans.checkpoint.write_wait_s": (statistics.mean(waits) if waits else 0.0, "s"),
            "plans.round.run_round_s": (per_round("plans.round.run_round"), "s"),
            "plans.round.materialize_s": (per_round("plans.round.materialize"), "s"),
            "plans.round.select_batch_s": (probe["plans.round.select_batch_s"], "s"),
            "plans.round.pending_rows": (probe["plans.round.pending_rows"], "count"),
            "plans.round.ranked_rows": (probe["plans.round.ranked_rows"], "count"),
            "plans.round.batch_rows": (probe["plans.round.batch_rows"], "count"),
            "plans.round.batch_fill": (
                probe["plans.round.batch_rows"] / max(1, probe["plans.round.pending_rows"]), "ratio"),
            "plans.round.workshop_actions_s": (probe["plans.round.workshop_actions_s"], "s"),
            "plans.round.actions": (probe["plans.round.actions"], "count"),
            "plans.round.new_links": (sum(counts[r] for r in rounds) / n, "count"),
            "plans.round.novel_link_share": (counts[rounds[-1]] / max(1, links), "ratio"),
            "plans.extract.extract_pages_s": (extract_s, "s"),
            "plans.extract.pages": (pages, "count"),
            "plans.extract.pages_per_s": (pages / extract_s, "1/s"),
            "functions.canonicalize.with_canonical_url_s": (probe["functions.canonicalize.with_canonical_url_s"], "s"),
            "functions.canonicalize.links": (links, "count"),
            "operators.bloom.ensure_sidecar_s": (once("operators.bloom.ensure_sidecar"), "s"),
            "operators.bloom.anti_join_with_filter_s": (probe.get("operators.bloom.anti_join_with_filter_s", 0.0), "s"),
            "operators.bloom.probes": (probes / n, "count"),
            "operators.bloom.skip_share": (tr.counts["operators.bloom.skipped"] / probes if probes else 0.0, "ratio"),
            "operators.bloom.update_shards_s": (per_round("operators.bloom.update_shards"), "s"),
            "spark.jobs_per_round": (jobs["jobs"] / n, "count"),
            "spark.stages_per_round": (jobs["stages"] / n, "count"),
            "spark.tasks_per_round": (jobs["tasks"] / n, "count"),
        }
        traced = m["fetched"] / m["wall_s"]
        # Tracing cost: the share of the traced crawl spent in the tracer's
        # own counting jobs, and traced over untraced fetch rate.
        out["trace.overhead_share"] = (tr.own_s / m["wall_s"], "ratio")
        out["trace.fetch_rate_ratio"] = (traced / untraced, "ratio")
        out["trace.probe_s"] = (probe_s, "s")
        self.detail["traced_crawl"] = {
            "rounds": rounds,
            "fetch_urls_per_s": round(traced, 3),
            "untraced_fetch_urls_per_s": round(untraced, 3),
            "self_s": {
                name: round(sum(t for s, t in spans if s["name"] == name), 4)
                for name in sorted({s["name"] for s, _ in spans})
            },
        }
        return out


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", required=True, help="where the traced run writes its spans")
    args = p.parse_args(argv)

    run = Run(args)
    t0 = time.perf_counter()
    try:
        run.setup()
        if args.trace:
            metrics = run.traced()
            run.tracer.dump(args.spans, t0)
        else:
            run.measure()
            if not run.crawls:
                raise RuntimeError("no timed crawl completed")
            metrics = run.end_to_end()
    finally:
        if getattr(run, "spark", None) is not None:
            run.spark.stop()
    result = {
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "checks": run.checks,
        "detail": run.detail,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
