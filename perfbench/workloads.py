"""Seeded workload inputs for the crawl-loop benchmark.

Every input is a pure function of (workload, seed, size): the same seed
writes the same rows. Inputs are written as parquet under the run's work
directory during set-up, so the timed region starts from inputs on disk
(the way a crawl starts from a seed list and a fetched-content store), and
the oracle receives exactly the rows the engine reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delphi_crawler_spark import datagen
from delphi_crawler_spark.plans.crawl_round import CrawlConfig


@dataclass(frozen=True)
class Size:
    seeds: int
    docs: int  # 0 = no fetch corpus, rounds skip discovery
    hosts: int
    rounds: int  # rounds in the loop; the resume round comes after them
    round_ms: int
    bloom_growth: int = 4  # bloom capacity headroom at (re)build


@dataclass(frozen=True)
class Workload:
    """A workload's sizes; ``BENCHMARK.json`` records why it was chosen."""

    name: str
    full: Size
    smoke: Size

    def size(self, smoke: bool) -> Size:
        return self.smoke if smoke else self.full

    def config(self, size: Size) -> CrawlConfig:
        return CrawlConfig(round_ms=size.round_ms, n_docs=size.docs or None,
                           bloom_growth=size.bloom_growth)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "wide_frontier",
            full=Size(seeds=60_000, docs=0, hosts=512, rounds=3, round_ms=2_000),
            smoke=Size(seeds=3_000, docs=0, hosts=64, rounds=2, round_ms=2_000),
        ),
        Workload(
            "link_discovery",
            # bloom_growth=2: round 0's discoveries outgrow the bootstrap
            # bloom, so the geometric rebuild runs inside the loop
            full=Size(seeds=1_000, docs=2_000, hosts=200, rounds=1, round_ms=3_000,
                      bloom_growth=2),
            smoke=Size(seeds=300, docs=300, hosts=200, rounds=1, round_ms=3_000,
                       bloom_growth=2),
        ),
    )
}


@dataclass
class Inputs:
    """Engine-side DataFrames plus the plain rows the oracle consumes."""

    seeds: DataFrame
    docs: DataFrame | None
    robots: DataFrame
    politeness: DataFrame
    oracle_seed_rows: list[dict]
    oracle_politeness: dict[str, tuple[float, int]]
    oracle_robots: list[dict]
    oracle_docs_links: dict[str, list[str]] | None


# ---------------------------------------------------------- wide_frontier


def synth_frontier(spark: SparkSession, n: int, n_hosts: int, seed: int) -> DataFrame:
    """Seeded variant of the repo's ``bench.synth_frontier``: ``n`` raw seed
    URLs generated distributed from ``spark.range``. About 25% of rows land on
    4 hot hosts, the rest spread over ``n_hosts``. Half the rows are already
    canonical, 10% sit under ``/a/`` (a robots target), 10% reuse the host
    and path of an earlier row (a duplicate whenever that row's URL
    canonicalizes the same way), and 30% are junk: upper-case hosts, default ports
    with dot-segments, encodable characters, and 5% an unsupported scheme
    that canonicalization rejects. The seed picks the row -> host,
    row -> variant and row -> priority mixing."""
    rng = np.random.default_rng(seed)
    # multipliers coprime with their moduli (2^16, 20, 10), so each mapping
    # is a permutation of residues and every seed keeps the same mix
    a = int(rng.integers(1 << 19, 1 << 29)) * 2 + 1
    c, e = (int(rng.integers(1 << 10, 1 << 20)) * 20 + int(rng.choice([1, 3, 7, 9, 11, 13, 17, 19]))
            for _ in range(2))
    b, d, f = (int(x) for x in rng.integers(0, 1 << 20, size=3))

    def host_of(row):
        h = F.pmod(row * a + b, F.lit(1 << 16))
        return synth_host_col(
            F.when(h < (1 << 14), F.pmod(h, F.lit(4))).otherwise(F.pmod(h, F.lit(n_hosts)))
        )

    seq = F.col("seq")
    host = host_of(seq)
    earlier = F.floor(seq / 2)
    variant = F.pmod(seq * c + d, F.lit(20))
    raw = (
        F.when(variant < 10, F.concat(F.lit("https://"), host, F.lit("/p/"), seq))
        .when(variant < 12, F.concat(F.lit("https://"), host, F.lit("/a/b/c/item-"), seq))
        .when(variant < 14, F.concat(F.lit("https://"), host_of(earlier), F.lit("/p/"), earlier))
        .when(variant < 16, F.concat(F.lit("https://"), F.upper(host), F.lit("/p/"), seq))
        .when(variant < 18, F.concat(F.lit("https://"), host, F.lit(":443/a/./b/../p/"), seq))
        .when(variant < 19, F.concat(F.lit("http://"), host, F.lit(":80/${q} x/"), seq))
        .otherwise(F.concat(F.lit("ftp://"), host, F.lit("/p/"), seq))
    )
    return spark.range(n).withColumnRenamed("id", "seq").select(
        raw.alias("url"),
        F.pmod(seq * e + f, F.lit(10)).cast("int").alias("priority"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=seq / 1000.0)).alias("discovery_ts"),
        seq,
    )


def synth_host_col(host_id):
    return F.concat(
        F.lit("host"), host_id, F.lit(".example-"), F.pmod(host_id, F.lit(5)), F.lit(".com")
    )


def synth_host(i: int) -> str:
    return f"host{i}.example-{i % 5}.com"


def synth_politeness(n_hosts: int, seed: int) -> pd.DataFrame:
    """Per-host budgets for the synthetic hosts: 90% at the reference
    default (5/s, burst 5), the rest slower or faster; the 4 hot hosts get
    a higher budget, as large sites do."""
    rng = np.random.default_rng(seed + 3)
    rate = np.where(rng.random(n_hosts) < 0.9, 5.0, rng.choice([1.0, 2.0, 10.0], size=n_hosts))
    burst = np.where(rate == 5.0, 5, np.maximum(1, rate.astype(int)))
    rate[:4], burst[:4] = 20.0, 20
    return pd.DataFrame({
        "host": [synth_host(i) for i in range(n_hosts)],
        "rate_per_sec": rate.astype(float),
        "max_burst": burst.astype("int32"),
    })


def synth_robots(n_hosts: int, seed: int) -> pd.DataFrame:
    """~2% of hosts fully disallowed, ~15% disallow ``/a/`` (the junk
    dot-segment and item paths) with an ``/a/b/`` allow on half of those."""
    rng = np.random.default_rng(seed + 2)
    rows = []
    for i, r in enumerate(rng.random(n_hosts)):
        h = synth_host(i)
        if i >= 4 and r < 0.02:
            rows.append({"host": h, "rule": "disallow", "path_prefix": "/", "order": 0})
        elif r < 0.17:
            rows.append({"host": h, "rule": "disallow", "path_prefix": "/a/", "order": 0})
            if r < 0.095:
                rows.append({"host": h, "rule": "allow", "path_prefix": "/a/b/", "order": 1})
    return pd.DataFrame(rows)


# ------------------------------------------------------------ input files

SEEDS_ARROW = pa.schema([
    ("url", pa.string()),
    ("priority", pa.int32()),
    ("discovery_ts", pa.timestamp("us", tz="UTC")),
    ("seq", pa.int64()),
])
DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


def _write_pd(pdf: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)


def _seed_rows(pdf: pd.DataFrame) -> list[dict]:
    return [
        {"url": u, "priority": int(p), "discovery_ts": ts, "seq": int(s)}
        for u, p, ts, s in zip(pdf.url, pdf.priority, pdf.discovery_ts, pdf.seq)
    ]


def _oracle_politeness(pdf: pd.DataFrame) -> dict[str, tuple[float, int]]:
    return {
        h: (float(r), int(b))
        for h, r, b in zip(pdf.host, pdf.rate_per_sec, pdf.max_burst)
    }


def generate(spark: SparkSession, workload: Workload, size: Size, seed: int,
             in_dir: str) -> Inputs:
    """Write the workload's inputs as parquet under ``in_dir`` and return
    them: Spark reads the files, the oracle gets the same rows."""
    os.makedirs(in_dir, exist_ok=True)
    p = lambda name: os.path.join(in_dir, name)  # noqa: E731
    docs_links = None
    if workload.name == "wide_frontier":
        synth_frontier(spark, size.seeds, size.hosts, seed).write.mode("overwrite").parquet(p("seeds"))
        seed_pd = pd.read_parquet(p("seeds")).sort_values("seq")
        pol_pd = synth_politeness(size.hosts, seed)
        rob_pd = synth_robots(size.hosts, seed)
    else:
        seed_pd = datagen.gen_seed_urls(n=size.seeds, n_hosts=size.hosts, seed=seed)
        pol_pd = datagen.gen_politeness(n_hosts=size.hosts, seed=seed)
        rob_pd = datagen.gen_robots_rules(n_hosts=size.hosts, seed=seed)
        docs_pd = datagen.gen_docs(n=size.docs, n_hosts=size.hosts, seed=seed)
        _write_pd(seed_pd.assign(discovery_ts=seed_pd.discovery_ts.dt.tz_localize("UTC")),
                  p("seeds"), SEEDS_ARROW)
        _write_pd(docs_pd, p("docs"), DOCS_ARROW)
        docs_links = {
            d: [s["text"] for s in spans if s["kind"] == "link"]
            for d, spans in zip(docs_pd.doc_id, docs_pd.spans)
        }
    _write_pd(rob_pd, p("robots"))
    _write_pd(pol_pd, p("politeness"))
    read = spark.read.parquet
    return Inputs(
        seeds=read(p("seeds")),
        docs=read(p("docs")) if docs_links is not None else None,
        robots=read(p("robots")),
        politeness=read(p("politeness")),
        oracle_seed_rows=_seed_rows(seed_pd),
        oracle_politeness=_oracle_politeness(pol_pd),
        oracle_robots=rob_pd.to_dict("records"),
        oracle_docs_links=docs_links,
    )
