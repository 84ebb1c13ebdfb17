"""One closed-loop crawl episode through the public ``CrawlEngine`` API.

An episode on a fresh store: ``bootstrap`` -> ``run_round`` x N ->
``maintain`` -> a fresh ``CrawlEngine`` on the same store runs round N (the
cold resume). Each call starts after the previous one returned, so every
round starts after the previous round's checkpoint committed. Outputs are
read back and checked after the clock stops.
"""

from __future__ import annotations

import shutil
import time
import traceback
from dataclasses import dataclass, field

from delphi_crawler_spark.plans.crawl_round import FRONTIER, CrawlEngine
from delphi_crawler_spark.plans.oracle import doc_key_for_url, run_oracle

from perfbench.tracing import dir_bytes
from perfbench.workloads import Inputs, Size, Workload


@dataclass
class Episode:
    bootstrap_s: float = 0.0
    round_s: list[float] = field(default_factory=list)
    emitted: list[int] = field(default_factory=list)
    maintain_s: float = 0.0
    resume_s: float = 0.0
    resume_emitted: int = 0
    attempted: int = 0
    failed: int = 0
    error: str = ""
    schedule: list[tuple] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    store_bytes: int = 0
    frontier_rows: int = 0
    candidate_links: int = 0
    ok: bool = False  # outputs equal the oracle's

    @property
    def loop_s(self) -> float:
        return sum(self.round_s)

    @property
    def rounds_s(self) -> float:
        """Every round of the episode, the resumed one included."""
        return self.loop_s + self.resume_s

    @property
    def wall_s(self) -> float:
        return self.bootstrap_s + self.loop_s + self.maintain_s + self.resume_s


class Hooks:
    """Called around the engine calls; the traced run overrides these."""

    def before_round(self, eng: CrawlEngine, round_no: int) -> None:
        pass

    def after_bootstrap(self, eng: CrawlEngine) -> None:
        pass

    def after_round(self, eng: CrawlEngine, round_no: int) -> None:
        pass

    def done(self) -> None:
        """The engine calls are over; the read-back follows."""


def run_episode(spark, workload: Workload, size: Size, inputs: Inputs,
                store_root: str, hooks: Hooks | None = None) -> Episode:
    hooks = hooks or Hooks()
    ep = Episode()
    cfg = workload.config(size)

    def engine() -> CrawlEngine:
        return CrawlEngine(spark, store_root, politeness=inputs.politeness,
                           robots=inputs.robots, config=cfg)

    def call(fn, *args, **kwargs):
        ep.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # a failed call fails the episode
            ep.failed += 1
            ep.error = f"{fn.__name__}: {type(exc).__name__}: {exc}"
            raise
        return out, time.perf_counter() - t0

    try:
        eng = engine()
        _, ep.bootstrap_s = call(eng.bootstrap, inputs.seeds)
        hooks.after_bootstrap(eng)
        for rnd in range(size.rounds):
            hooks.before_round(eng, rnd)
            stats, dt = call(eng.run_round, rnd, docs=inputs.docs)
            ep.round_s.append(dt)
            ep.emitted.append(stats["emitted"])
            hooks.after_round(eng, rnd)
        _, ep.maintain_s = call(eng.maintain)
        hooks.before_round(eng, size.rounds)
        t0 = time.perf_counter()
        cold = engine()
        stats, _ = call(cold.run_round, size.rounds, docs=inputs.docs)
        ep.resume_s = time.perf_counter() - t0
        ep.resume_emitted = stats["emitted"]
        hooks.after_round(cold, size.rounds)
    except Exception as exc:  # the run reports the failure and goes on
        traceback.print_exc()
        ep.error = ep.error or f"{type(exc).__name__}: {exc}"
        return ep

    # ---- outside the clock: read the outputs back
    hooks.done()
    ep.schedule = cold.schedule_rows()
    ep.seen = cold.seen_set()
    ep.store_bytes = dir_bytes(store_root)
    ep.frontier_rows = cold.store.read(FRONTIER).count()
    shutil.rmtree(store_root, ignore_errors=True)
    if inputs.oracle_docs_links is not None:
        links = inputs.oracle_docs_links
        ep.candidate_links = sum(
            len(links.get(doc_key_for_url(url, size.docs), ()))
            for *_, url in ep.schedule
        )
    return ep


def oracle_for(inputs: Inputs, size: Size):
    """The pure-Python reference schedule for the loop rounds plus the
    resume round."""
    return run_oracle(
        inputs.oracle_seed_rows,
        inputs.oracle_politeness,
        inputs.oracle_robots,
        inputs.oracle_docs_links,
        n_rounds=size.rounds + 1,
        round_ms=size.round_ms,
        n_docs=size.docs or None,
    )


def matches(ep: Episode, oracle) -> bool:
    """Schedule rows and seen set equal the oracle's."""
    return not ep.failed and ep.schedule == oracle.schedule and ep.seen == oracle.seen
