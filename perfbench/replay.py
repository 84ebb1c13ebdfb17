"""Isolated replays of the lazy operators a crawl round chains together.

The engine's lazy operators bill their work to whichever eager call forces
them (mostly ``attach_global_seq`` and the store writes). To see each one on
its own, the traced run replays it after the round on that round's inputs.
Each step's input is the previous step's cached output; the step itself is
forced once by materializing its output into the cache (every column is
computed, as a ``noop`` sink write would) and that same job counts its rows.

Inputs are reconstructed from the store at the checkpoint the round started
from, so each replay sees what the engine saw.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delphi_crawler_spark.functions.canonicalize import canonicalize_url, with_url_keys
from delphi_crawler_spark.operators.dedup import first_occurrence_dedup
from delphi_crawler_spark.operators.links import extract_links
from delphi_crawler_spark.operators.politeness import (
    admit_round,
    assign_emission_slots,
    emission_order,
    prune_pending_topk,
)
from delphi_crawler_spark.operators.robots import robots_filter
from delphi_crawler_spark.operators.seen import (
    BloomBits,
    build_bloom_segment,
    seen_anti_join,
)
from delphi_crawler_spark.plans.crawl_round import FETCHED, FRONTIER, SCHEDULE


class Replayer:
    def __init__(self) -> None:
        self.m: dict[str, float] = defaultdict(float)
        # busy time of the whole discovery chain forced in one job, per
        # round: the work attach_global_seq forces in the engine
        self.chain_by_round: dict[int, float] = {}
        self._cached: list[DataFrame] = []

    def _run(self, df: DataFrame, layer: str | None) -> tuple[DataFrame, int, float]:
        out = df.cache()
        self._cached.append(out)
        t0 = time.perf_counter()
        n = out.count()
        busy = time.perf_counter() - t0
        if layer is not None:
            self.m[layer] += busy
        return out, n, busy

    def _release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -------------------------------------------------------- shared chain
    def _admission_chain(self, raw: DataFrame, n_raw: int, order: list[str],
                         robots: DataFrame) -> DataFrame:
        """canonicalize -> robots -> first-occurrence dedup, as the engine
        chains them in ``bootstrap`` and ``_discover``."""
        m = self.m
        canon, n_canon, _ = self._run(
            raw.withColumn("url", canonicalize_url("url")).filter(F.col("url").isNotNull()),
            "canonicalize.busy_s",
        )
        m["canonicalize.rows_in"] += n_raw
        m["canonicalize.rejected"] += n_raw - n_canon
        allowed, n_allowed, _ = self._run(
            robots_filter(with_url_keys(canon, minimal=True), robots),
            "robots.busy_s",
        )
        m["robots.rows_dropped"] += n_canon - n_allowed
        dedup, n_dedup, _ = self._run(
            first_occurrence_dedup(allowed.drop("host"), key="url", order=order),
            "dedup.busy_s",
        )
        m["dedup.rows_in"] += n_allowed
        m["dedup.rows_out"] += n_dedup
        return dedup

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self, seeds: DataFrame, robots: DataFrame) -> None:
        try:
            self._admission_chain(seeds, seeds.count(), ["seq"], robots)
        finally:
            self._release()

    # ---------------------------------------------------------------- round
    def round(self, store, round_no: int, prev: dict, politeness: DataFrame,
              robots: DataFrame, docs: DataFrame | None, round_ms: int,
              n_docs: int) -> None:
        try:
            self._politeness(store, prev, politeness, round_ms)
            if docs is not None:
                self._discovery(store, round_no, prev, docs, robots, n_docs)
        finally:
            self._release()

    def _politeness(self, store, prev, politeness, round_ms) -> None:
        m = self.m
        frontier = store.read_at(FRONTIER, prev["frontier_snap"])
        if prev.get("fetched_snap"):
            fetched = (
                store.read_at(FETCHED, prev["fetched_snap"]).select("url")
                .withColumn("url_hash64", F.xxhash64("url"))
            )
            pending = frontier.join(fetched, ["url_hash64", "url"], "left_anti")
        else:
            pending = frontier
        pending, n_pending, _ = self._run(pending, "engine.pending_join_s")
        m["politeness.pending_rows"] += n_pending
        pruned, n_pruned, busy_prune = self._run(
            prune_pending_topk(pending, politeness, round_ms), None,
        )
        m["politeness.prune_out_rows"] += n_pruned
        _, n_admitted, busy_order = self._run(
            emission_order(admit_round(assign_emission_slots(pruned, politeness), round_ms)),
            None,
        )
        m["politeness.admitted_rows"] += n_admitted
        m["politeness.schedule_s"] += busy_prune + busy_order

    def _discovery(self, store, round_no, prev, docs, robots, n_docs) -> None:
        m = self.m
        scheduled = store.read(SCHEDULE).filter(F.col("round") == round_no)
        targets = scheduled.select(
            "url", "discovery_ts", "seq",
            F.format_string("doc-%08d", F.pmod(F.crc32(F.col("url")), F.lit(n_docs))).alias("doc_id"),
        )
        fetched_links = targets.join(extract_links(docs), "doc_id", "inner").select(
            F.col("raw_url").alias("url"),
            F.lit(0).alias("priority"),
            F.col("discovery_ts"),
            F.col("seq").alias("parent_seq"),
            "span_pos",
        )
        order = ["parent_seq", "span_pos"]
        seen = store.read_at(FRONTIER, prev["frontier_snap"]).select("url", "url_hash64")
        bloom = bloom_as_of(store, prev.get("bloom"))

        # the whole chain, forced once from uncached inputs
        chain = fetched_links.withColumn("url", canonicalize_url("url")).filter(F.col("url").isNotNull())
        chain = first_occurrence_dedup(
            robots_filter(with_url_keys(chain, minimal=True), robots).drop("host"),
            key="url", order=order,
        )
        _, _, self.chain_by_round[round_no] = self._run(seen_anti_join(chain, seen, bloom), None)

        # then step by step
        raw, n_raw, _ = self._run(fetched_links, "links.busy_s")
        m["links.rows_out"] += n_raw
        cand = self._admission_chain(raw, n_raw, order, robots)
        self._run(seen_anti_join(cand, seen, bloom), "seen.anti_join_s")
        hashes = cand.select("url_hash64").toPandas()["url_hash64"].to_numpy(dtype=np.int64)
        positives = int(bloom.might_contain_many(hashes.view(np.uint64)).sum()) if bloom else len(hashes)
        true_seen = cand.join(seen, ["url_hash64", "url"], "left_semi").count()
        m["seen.probe_rows"] += len(hashes)
        m["seen.bloom_negative_rows"] += len(hashes) - positives
        m["seen.confirm_rows"] += positives
        m["seen.false_positive_rows"] += positives - true_seen


def bloom_as_of(store, meta: dict | None) -> BloomBits | None:
    """The logical bloom a checkpoint's meta describes: the persisted blob
    OR the segments of the round-tagged frontier parts after it."""
    if not meta:
        return None
    words = np.frombuffer(store.load_blob(meta["blob"]), dtype=np.uint64).copy()
    bloom = BloomBits(meta["m"], meta["k"], words)
    blob_round = meta.get("blob_round")
    upto = meta.get("round", blob_round)
    if blob_round is not None and upto is not None and upto > blob_round:
        tail = store.read_parts_range(FRONTIER, blob_round + 1, upto).select("url_hash64")
        bloom = bloom.merge(build_bloom_segment(tail, bloom.m_bits, bloom.k))
    return bloom
