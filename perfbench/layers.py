"""Round clocks, spans and the layer probe.

Everything here wraps the program's public entry points from the
outside, at the names ``plans.checkpoint`` (and ``plans.round``) look
them up, and restores them afterwards.  Nothing in the program is
edited.

- ``RoundClock`` is the only instrumentation of untraced crawls: it
  stamps each ``run_round`` entry and the end of round 1's
  ``RoundOutputs.materialize``.
- ``Tracer`` records spans (name, start, end, parent, round) for the
  eager calls of a crawl and counts at the same boundaries.
- ``probe_round`` times the lazy plan builders of a round by
  rebuilding the round from the traced run's own checkpoint and forcing
  each builder's output with a ``noop`` write.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from unittest import mock


def patch(stack: contextlib.ExitStack, obj, attr: str, value) -> None:
    """Replace ``obj.attr`` until ``stack`` closes."""
    stack.enter_context(mock.patch.object(obj, attr, value))


class RoundClock:
    """Round boundaries of one ``crawl()`` call."""

    def __init__(self):
        self.starts: list[float] = []
        self.first_batch_end: float | None = None

    def install(self, stack: contextlib.ExitStack) -> None:
        from pyppeteer_scraper_spark.plans import checkpoint as ck
        from pyppeteer_scraper_spark.plans.round import RoundOutputs

        run_round, materialize = ck.run_round, RoundOutputs.materialize

        def timed_run_round(*args, **kwargs):
            self.starts.append(time.perf_counter())
            return run_round(*args, **kwargs)

        def timed_materialize(out):
            n = materialize(out)
            if self.first_batch_end is None:
                self.first_batch_end = time.perf_counter()
            return n

        patch(stack, ck, "run_round", timed_run_round)
        patch(stack, RoundOutputs, "materialize", timed_materialize)

    def round_seconds(self, crawl_end: float) -> list[float]:
        ends = self.starts[1:] + [crawl_end]
        return [b - a for a, b in zip(self.starts, ends)]


class Tracer:
    """In-memory spans and counts of one traced process."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.round: int | None = None
        self.run_round_call: tuple | None = None  # first (args, kwargs) seen
        self.jobs: JobCounter | None = None
        self.own_s = 0.0  # time the tracer spends on its own counting jobs
        self.own_jobs: set[int] = set()  # and their Spark job ids
        self.first_job: int | None = None  # last job id before round 1
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, round_no: int | None = None):
        stack = self._stack()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": stack[-1]["id"] if stack else None,
                "round": self.round if round_no is None else round_no,
                "thread": threading.current_thread().name,
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, stack: contextlib.ExitStack, obj, attr: str, name: str, round_of=None) -> None:
        original = getattr(obj, attr)

        def traced(*args, **kwargs):
            with self.span(name, round_of(args) if round_of else None):
                return original(*args, **kwargs)

        patch(stack, obj, attr, traced)

    @contextlib.contextmanager
    def counting(self):
        """Times a block of the tracer's own work into ``own_s`` and
        records the Spark jobs it ran in ``own_jobs``."""
        job = self.jobs.last_job() if self.jobs else None
        t = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.own_s += time.perf_counter() - t
                if job is not None:
                    self.own_jobs.update(range(job + 1, self.jobs.last_job() + 1))

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] += value

    # --- analysis ---------------------------------------------------

    def self_times(self) -> list[tuple[dict, float]]:
        """(span, self time): duration minus the part of the interval
        covered by its child spans."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out.append((s, (s["end"] - s["start"]) - covered))
        return out

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {**s, "start": s["start"] - t0, "end": s["end"] - t0}
                    for s in self.spans
                ],
                f,
            )


def install_crawl_spans(tracer: Tracer, stack: contextlib.ExitStack) -> None:
    """Spans around the eager calls ``crawl()`` makes, plus the counts
    measured where the work happens."""
    from pyppeteer_scraper_spark.operators import bloom
    from pyppeteer_scraper_spark.plans import checkpoint as ck
    from pyppeteer_scraper_spark.plans.round import RoundOutputs

    run_round = ck.run_round

    def traced_run_round(spark, state, *args, **kwargs):
        tracer.round = state.round_no + 1
        if tracer.run_round_call is None:
            tracer.run_round_call = (args, kwargs)
            tracer.first_job = tracer.jobs.last_job() if tracer.jobs else None
        with tracer.span("plans.round.run_round"):
            return run_round(spark, state, *args, **kwargs)

    patch(stack, ck, "run_round", traced_run_round)

    materialize = RoundOutputs.materialize

    def traced_materialize(out):
        with tracer.span("plans.round.materialize"):
            return materialize(out)

    patch(stack, RoundOutputs, "materialize", traced_materialize)

    tracer.wrap(stack, ck, "prepare_pages", "plans.checkpoint.prepare_pages")
    tracer.wrap(stack, ck, "load_state", "plans.checkpoint.load_state")
    tracer.wrap(stack, ck, "_pin_parallel", "plans.checkpoint.pin")
    tracer.wrap(
        stack, ck, "save_state", "plans.checkpoint.save_state",
        round_of=lambda args: args[0].round_no,
    )
    tracer.wrap(stack, bloom, "ensure_sidecar", "operators.bloom.ensure_sidecar")
    tracer.wrap(stack, bloom, "update_shards", "operators.bloom.update_shards")

    anti_join = bloom.anti_join_with_filter

    def traced_anti_join(candidates, url_seen, bloom_dir, *args, caches=None, **kwargs):
        caches = [] if caches is None else caches
        # probes the sidecar eagerly, which forces the round's fetch and
        # extraction: a child span keeps that out of run_round's self time
        with tracer.span("operators.bloom.anti_join_with_filter"):
            out = anti_join(candidates, url_seen, bloom_dir, *args, caches=caches, **kwargs)
        # the probe's annotated frame is cached and already counted
        from pyspark.sql import functions as F

        with tracer.counting():
            row = caches[-1].agg(
                F.count("*").alias("n"), F.sum((~F.col("maybe_seen")).cast("long")).alias("skip")
            ).first()
            tracer.add("operators.bloom.probes", row["n"])
            tracer.add("operators.bloom.skipped", row["skip"] or 0)
        return out

    patch(stack, bloom, "anti_join_with_filter", traced_anti_join)


def written_bytes(ckpt_dir: str) -> int:
    total = 0
    for root, _, files in os.walk(ckpt_dir):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class JobCounter:
    """Spark jobs, stages and tasks started between two marks, from the
    ``StatusTracker`` (job ids are sequential)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def last_job(self) -> int:
        ids = self.tracker.getJobIdsForGroup()
        return max(ids) if ids else -1

    def counts(self, after: int, upto: int, skip=()) -> dict:
        stages = tasks = jobs = 0
        for job_id in range(after + 1, upto + 1):
            if job_id in skip:
                continue
            jobs += 1
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


BUILDERS = {  # plans.round lookup name -> metric prefix
    "select_batch": "plans.round.select_batch",
    "extract_pages": "plans.extract.extract_pages",
    "with_canonical_url": "functions.canonicalize.with_canonical_url",
    "workshop_actions": "plans.round.workshop_actions",
}
ROWS = {
    "extract_pages": "plans.extract.pages",
    "with_canonical_url": "functions.canonicalize.links",
    "workshop_actions": "plans.round.actions",
}


def probe_round(spark, ckpt_dir: str, round_no: int, run_round_args: dict) -> dict:
    """Time each lazy plan builder of one round.

    The round is rebuilt with ``run_round`` from the state the traced
    crawl checkpointed before it, with the builders wrapped so their
    inputs and outputs are captured.  For each builder in pipeline
    order, its DataFrame inputs are cached and filled first, then its
    output is forced with a ``noop`` write: the time is the builder's
    own work.  ``anti_join_with_filter`` probes the bloom sidecar
    eagerly, so it is captured without running and then called on the
    cached inputs inside the timed region.  Returns seconds and row
    counts by metric name.
    """
    from pyspark.sql import DataFrame

    from pyppeteer_scraper_spark.operators import bloom
    from pyppeteer_scraper_spark.plans import round as rnd
    from pyppeteer_scraper_spark.plans.checkpoint import load_state

    captured = {}
    anti_join = bloom.anti_join_with_filter

    def capture_anti_join(candidates, url_seen, *args, **kwargs):
        captured["anti_join_with_filter"] = ((candidates, url_seen), (args, kwargs))
        return candidates  # built for real below, on cached inputs

    state = load_state(spark, ckpt_dir, round_no - 1)
    with contextlib.ExitStack() as stack:
        for attr in BUILDERS:
            original = getattr(rnd, attr)

            def capture(*args, _attr=attr, _original=original, **kwargs):
                result = _original(*args, **kwargs)
                captured.setdefault(_attr, (args, result))
                return result

            patch(stack, rnd, attr, capture)
        patch(stack, bloom, "anti_join_with_filter", capture_anti_join)
        _, round_out = rnd.run_round(spark, state, **run_round_args)

    out, held = {}, []

    def hold(args):
        for a in args:
            if isinstance(a, DataFrame):
                a.cache().count()
                held.append(a)

    for attr, name in BUILDERS.items():
        args, result = captured[attr]
        hold(args)
        if attr == "select_batch":
            batch, _, _, (gated0, p1, _) = result
            out[name + "_s"] = _noop(batch)
            out["plans.round.pending_rows"] = gated0.count()
            out["plans.round.ranked_rows"] = p1.count()
            out["plans.round.batch_rows"] = batch.count()
        else:
            out[name + "_s"] = _noop(result)
            out[ROWS[attr]] = result.count()
    if "anti_join_with_filter" in captured:
        inputs, (args, kwargs) = captured["anti_join_with_filter"]
        hold(inputs)
        caches: list = []
        t = time.perf_counter()
        unseen = anti_join(*inputs, *args, **dict(kwargs, caches=caches))
        _noop(unseen)
        out["operators.bloom.anti_join_with_filter_s"] = time.perf_counter() - t
        held.extend(caches)
    for df in held:
        df.unpersist()
    round_out.unpersist()
    return out
