"""Set-up, measured episodes, traced episode and metric assembly."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import time

import numpy as np
import pyspark
from pyspark import SparkContext

from delphi_crawler_spark.plans.crawl_round import FETCHED, FRONTIER, CrawlEngine
from delphi_crawler_spark.session import get_spark

from perfbench import host
from perfbench.episode import Episode, Hooks, matches, oracle_for, run_episode
from perfbench.replay import Replayer
from perfbench.tracing import Tracer
from perfbench.workloads import WORKLOADS, Workload, generate

PHASE = "perfbench.phase"
# Spark's own default: the inputs are megabytes, and a heap that reaches its
# cap in every run keeps peak_rss_mb steady
DRIVER_MEMORY_GB = 1


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def cores() -> int:
    """Spark task slots: half the CPUs. A slot that runs a Python UDF keeps
    a JVM task thread and a Python worker busy, so ``local[nproc]`` runs
    about twice as many busy threads as there are CPUs. On a 4-CPU VM,
    ``local[2]`` ran the link_discovery episode 15-20% faster than
    ``local[4]``, with less spread between runs."""
    return max(1, host.nproc() // 2)


def start_session(work: str, trace: bool):
    os.environ["SPARK_DRIVER_MEM"] = f"{DRIVER_MEMORY_GB}g"
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=cores(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, close the gateway JVM and wait for it and its Python
    workers to end."""
    pids = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    host.reap(pids)


def warmup(spark, wl: Workload, work: str) -> None:
    """Run ``bootstrap``, the first round and ``maintain`` on the workload's
    smoke-size inputs and a throwaway store before anything is timed. This
    starts the Python workers and compiles the query shapes of the timed
    calls, the round's discovery chain included. After a warm-up that only
    bootstrapped, the first measured link_discovery round took 15-19 s
    against 11-14 s for the next one on a 4-CPU VM: it timed the JIT."""
    size = wl.size(smoke=True)
    root = os.path.join(work, "warm", wl.name)
    inputs = generate(spark, wl, size, 0, os.path.join(root, "inputs"))
    eng = CrawlEngine(spark, os.path.join(root, "store"), politeness=inputs.politeness,
                      robots=inputs.robots, config=wl.config(size))
    eng.bootstrap(inputs.seeds)
    eng.run_round(0, docs=inputs.docs)
    eng.maintain()
    shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------------------------ traced hooks


def loop_phase(workload: str) -> str:
    """Job tag of a traced episode's engine calls (the replays between them
    are tagged ``replay``)."""
    return f"loop:{workload}"


class TracedHooks(Hooks):
    def __init__(self, spark, tracer: Tracer, replayer: Replayer, inputs, size,
                 workload_name: str) -> None:
        self.sc = spark.sparkContext
        self.tracer, self.replayer = tracer, replayer
        self.inputs, self.size = inputs, size
        self.prev: dict[int, dict] = {}
        self.parts = {FRONTIER: 0, FETCHED: 0}
        self.phase = loop_phase(workload_name)

    def _replay(self, fn, *args) -> None:
        with self.tracer.paused():
            self.sc.setLocalProperty(PHASE, "replay")
            try:
                fn(*args)
            finally:
                self.sc.setLocalProperty(PHASE, self.phase)

    def done(self) -> None:
        self.sc.setLocalProperty(PHASE, "check")

    def after_bootstrap(self, eng) -> None:
        self._replay(self.replayer.bootstrap, self.inputs.seeds, self.inputs.robots)

    def before_round(self, eng, round_no: int) -> None:
        with self.tracer.paused():
            self.prev[round_no] = eng.store.last_checkpoint()

    def after_round(self, eng, round_no: int) -> None:
        with self.tracer.paused():
            for tbl in self.parts:
                if eng.store.exists(tbl):
                    self.parts[tbl] = max(self.parts[tbl], len(eng.store.parts(tbl)))
        self._replay(
            self.replayer.round, eng.store, round_no, self.prev[round_no],
            self.inputs.politeness, self.inputs.robots, self.inputs.docs,
            self.size.round_ms, self.size.docs,
        )


# --------------------------------------------------------------- metrics


def _m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, eps: list[Episode], n_seeds: int, peak_rss: int,
               correct: bool) -> dict:
    """Medians over the run's episodes; a failed run reports zeros. The
    throughput metrics count every round of an episode, the resumed one
    included, so that they rest on more than one round per episode."""
    eps = [e for e in eps if e.ok]
    rounds_s = sum(e.rounds_s for e in eps)
    return {
        "setup_s": _m(setup_s, "s"),
        "bootstrap_s": _m(_median(e.bootstrap_s for e in eps), "s"),
        "round_s_p50": _m(_median(t for e in eps for t in e.round_s), "s"),
        "urls_per_s": _m(_div(sum(sum(e.emitted) + e.resume_emitted for e in eps),
                              rounds_s), "1/s"),
        "links_per_s": _m(_div(sum(n_seeds + e.candidate_links for e in eps),
                               sum(e.bootstrap_s for e in eps) + rounds_s), "1/s"),
        "maintain_s": _m(_median(e.maintain_s for e in eps), "s"),
        "resume_s": _m(_median(e.resume_s for e in eps), "s"),
        "store_bytes_per_url": _m(
            _median(_div(e.store_bytes, e.frontier_rows) for e in eps), "B/url"),
        "peak_rss_mb": _m(peak_rss / (1 << 20), "MB"),
        "schedule_matches_oracle": _m(1 if correct else 0, "bool"),
    }


def _slope(ys: list[float]) -> float:
    if len(ys) < 2:
        return 0.0
    return float(np.polyfit(np.arange(len(ys), dtype=float), np.asarray(ys), 1)[0])


def per_layer(tracer: Tracer, replayer: Replayer, hooks: TracedHooks,
              ep: Episode, spark_m: dict) -> dict:
    r = replayer.m
    spans = tracer.spans
    total = lambda name: sum(s.dur for s in spans if s.name == name)  # noqa: E731
    rounds = [s for s in spans if s.name == "engine.run_round"]
    round_total = sum(s.dur for s in rounds)
    round_self = sum(tracer.self_time(s) for s in rounds)

    # bloom segment builds: inside a bloom load (tail rebuild), a geometry
    # change against the round's starting meta (full rebuild), or the
    # incremental segment of the round's appended part
    seg_s = rebuild_s = 0.0
    rebuilds = 0
    for i, rs in enumerate(rounds):
        prev_m = ((hooks.prev.get(i) or {}).get("bloom") or {}).get("m")
        loads = {d.id for ls in tracer.named("engine.load_bloom", rs)
                 for d in tracer.descendants(ls)}
        for b in tracer.named("build_bloom_segment", rs):
            if b.id in loads:
                continue
            if b.attrs.get("m_bits") != prev_m:
                rebuilds += 1
                rebuild_s += b.dur
            else:
                seg_s += b.dur

    # attach_global_seq forces the whole discovery chain; its self time is
    # what is left after a replay that forces that chain in one job
    attach_self = 0.0
    for i, rs in enumerate(rounds):
        attach = sum(s.dur for s in tracer.named("attach_global_seq", rs))
        attach_self += max(0.0, attach - replayer.chain_by_round.get(i, 0.0))

    def attr_sum(key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in spans)

    probes = r["seen.probe_rows"]
    pruned = r["politeness.prune_out_rows"]
    out = {
        "canonicalize.busy_s": _m(r["canonicalize.busy_s"], "s"),
        "canonicalize.rows_in": _m(r["canonicalize.rows_in"], "count"),
        "canonicalize.rejected": _m(r["canonicalize.rejected"], "count"),
        "links.busy_s": _m(r["links.busy_s"], "s"),
        "links.rows_out": _m(r["links.rows_out"], "count"),
        "robots.busy_s": _m(r["robots.busy_s"], "s"),
        "robots.rows_dropped": _m(r["robots.rows_dropped"], "count"),
        "dedup.busy_s": _m(r["dedup.busy_s"], "s"),
        "dedup.rows_in": _m(r["dedup.rows_in"], "count"),
        "dedup.rows_out": _m(r["dedup.rows_out"], "count"),
        "seen.anti_join_s": _m(r["seen.anti_join_s"], "s"),
        "seen.probe_rows": _m(probes, "count"),
        "seen.bloom_negative_share": _m(r["seen.bloom_negative_rows"] / probes if probes else 0, "ratio"),
        "seen.confirm_rows": _m(r["seen.confirm_rows"], "count"),
        "seen.false_positive_rows": _m(r["seen.false_positive_rows"], "count"),
        "seen.segment_build_s": _m(seg_s, "s"),
        "seen.rebuilds": _m(rebuilds, "count"),
        "seen.rebuild_s": _m(rebuild_s, "s"),
        "ordering.attach_seq_s": _m(attach_self, "s"),
        "politeness.pending_rows": _m(r["politeness.pending_rows"], "count"),
        "politeness.prune_out_rows": _m(pruned, "count"),
        "politeness.admitted_rows": _m(r["politeness.admitted_rows"], "count"),
        "politeness.admit_share": _m(r["politeness.admitted_rows"] / pruned if pruned else 0, "ratio"),
        "politeness.schedule_s": _m(r["politeness.schedule_s"], "s"),
        "store.append_s": _m(total("store.append"), "s"),
        "store.replace_round_s": _m(total("store.replace_round"), "s"),
        "store.checkpoint_s": _m(total("store.checkpoint") + total("store.amend_checkpoint"), "s"),
        "store.compact_s": _m(total("store.compact"), "s"),
        "store.expire_s": _m(total("store.expire") + total("store.expire_blobs"), "s"),
        "store.read_calls": _m(sum(1 for s in spans if s.name.startswith("store.read")), "count"),
        "store.parts_frontier": _m(hooks.parts[FRONTIER], "count"),
        "store.parts_fetched": _m(hooks.parts[FETCHED], "count"),
        "store.bytes_written": _m(attr_sum("bytes_written"), "B"),
        "store.blob_bytes_written": _m(attr_sum("blob_bytes"), "B"),
        "store.files_removed": _m(attr_sum("files_removed"), "count"),
        "engine.pending_join_s": _m(r["engine.pending_join_s"], "s"),
        "engine.round_self_s": _m(round_self, "s"),
        "engine.unattributed_share": _m(round_self / round_total if round_total else 0, "ratio"),
        "engine.round_s_slope": _m(_slope([s.dur for s in rounds]), "s/round"),
        "engine.bloom_load_s": _m(total("engine.load_bloom"), "s"),
        "trace.overhead_s": _m(tracer.overhead_s, "s"),
        "trace.overhead_share": _m(_div(tracer.overhead_s, ep.wall_s - tracer.overhead_s), "ratio"),
    }
    out.update({k: _m(v, u) for k, (v, u) in spark_m.items()})
    return out


def spark_runtime(eventlog_dir: str, phase: str) -> dict:
    """Job, stage and task totals of the jobs tagged ``phase``, read from the
    Spark event log."""
    stage_phase: dict[int, str] = {}
    n = dict.fromkeys(("jobs", "stages", "tasks"), 0)
    acc = dict.fromkeys(("shuffle_write", "shuffle_read", "spill", "run_ms", "gc_ms"), 0)
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(eventlog_dir)
                   for f in fs if f.startswith("events_"))
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get(PHASE) == phase:
                        n["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_phase[sid] = phase
                elif kind == "SparkListenerStageCompleted":
                    if stage_phase.get(ev["Stage Info"]["Stage ID"]) == phase:
                        n["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if stage_phase.get(ev.get("Stage ID")) != phase:
                        continue
                    n["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    acc["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    acc["run_ms"] += tm.get("Executor Run Time", 0)
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
    return {
        "spark.jobs": (n["jobs"], "count"),
        "spark.stages": (n["stages"], "count"),
        "spark.tasks": (n["tasks"], "count"),
        "spark.shuffle_write_bytes": (acc["shuffle_write"], "B"),
        "spark.shuffle_read_bytes": (acc["shuffle_read"], "B"),
        "spark.spill_bytes": (acc["spill"], "B"),
        "spark.task_run_s": (acc["run_ms"] / 1000.0, "s"),
        "spark.gc_s": (acc["gc_ms"] / 1000.0, "s"),
    }


# ------------------------------------------------------------------- runs


def _store(work: str, wl: Workload, k: int) -> str:
    return os.path.join(work, "stores", f"{wl.name}-{k}")


def measure(spark, wl: Workload, size, inputs, oracle, seconds: float, work: str):
    """Closed-loop episodes on fresh stores until ``seconds`` would be
    overrun (at least one)."""
    eps: list[Episode] = []
    with host.PeakRss() as rss:
        t0 = time.perf_counter()
        while True:
            ep = run_episode(spark, wl, size, inputs, _store(work, wl, len(eps)))
            ep.ok = matches(ep, oracle)
            eps.append(ep)
            if not ep.ok:
                break
            elapsed = time.perf_counter() - t0
            if elapsed + ep.wall_s > seconds:
                break
    return eps, rss.peak


def traced_run(spark, wl: Workload, size, inputs, oracle, work: str, out_path: str):
    """One traced episode: spans around the engine calls, isolated replays
    between them, and the event log tagged with the episode's phase."""
    tracer, replayer = Tracer(), Replayer()
    hooks = TracedHooks(spark, tracer, replayer, inputs, size, wl.name)
    spark.sparkContext.setLocalProperty(PHASE, hooks.phase)
    tracer.install()
    try:
        ep = run_episode(spark, wl, size, inputs, _store(work, wl, 0), hooks)
    finally:
        tracer.uninstall()
        spark.sparkContext.setLocalProperty(PHASE, None)
    ep.ok = matches(ep, oracle)
    tracer.write(out_path)
    return ep, tracer, replayer, hooks


def run_workload(spark, wl: Workload, args, work: str, out_dir: str, smoke: bool):
    """Set-up (generation, warm-up, oracle), then the measured or traced
    episodes. Returns the set-up seconds that count in ``setup_s`` besides
    the session start, the episodes, the peak RSS and the traced state."""
    size = wl.size(smoke)
    in_dir = os.path.join(work, "inputs", wl.name)
    inputs, gen_s = _timed(generate, spark, wl, size, args.seed, in_dir)
    _, warm_s = _timed(warmup, spark, wl, work)
    setup = {"generate": gen_s, "warmup": warm_s}
    oracle = oracle_for(inputs, size)
    if not args.trace:
        eps, peak = measure(spark, wl, size, inputs, oracle,
                            0 if smoke else args.seconds, work)
        return setup, eps, peak, None
    out_path = os.path.join(out_dir, f"spans-{wl.name}-{args.seed}.jsonl")
    traced = traced_run(spark, wl, size, inputs, oracle, work, out_path)
    return setup, [traced[0]], 0, traced


def run(args, work: str, out_dir: str) -> tuple[dict, dict]:
    names = sorted(WORKLOADS) if args.smoke else [args.workload]
    spark, session_s = _timed(start_session, work, bool(args.trace))
    try:
        results = {}
        for name in names:
            results[name] = run_workload(spark, WORKLOADS[name], args, work, out_dir, args.smoke)
        spark_version = spark.version
    finally:
        stop_session(spark)

    eps_all = [e for r in results.values() for e in r[1]]
    attempted = sum(e.attempted for e in eps_all) + len(eps_all)  # + one check each
    failed = sum(e.failed for e in eps_all) + sum(not e.ok for e in eps_all)
    correct = failed == 0
    metrics = {}
    for name, (setup, eps, peak, traced) in results.items():
        prefix = f"{name}." if args.smoke else ""
        if traced is None:
            m = end_to_end(session_s + sum(setup.values()), eps,
                           WORKLOADS[name].size(args.smoke).seeds, peak, correct)
        else:
            ep, tracer, replayer, hooks = traced
            m = per_layer(tracer, replayer, hooks, ep,
                          spark_runtime(os.path.join(work, "eventlog"), loop_phase(name)))
        metrics.update({prefix + k: v for k, v in m.items()})
    info = {
        "workloads": names,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": host.nproc(),
        "spark_cores": cores(),
        "ram_gb": round(host.ram_bytes() / (1 << 30), 1),
        "driver_memory_gb": DRIVER_MEMORY_GB,
        "spark_version": spark_version,
        "pyspark_version": pyspark.__version__,
        "python": platform.python_version(),
        "store_fs": host.fs_type(work),
        "setup_parts_s": {"session": session_s, **{n: r[0] for n, r in results.items()}},
        "episodes": {n: len(r[1]) for n, r in results.items()},
        "round_samples": {n: sum(len(e.round_s) for e in r[1]) for n, r in results.items()},
        "failed_share": failed / attempted,
        "errors": [e.error for e in eps_all if e.error],
    }
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}, info
