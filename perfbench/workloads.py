"""Seeded inputs for the three crawl-cycle workloads.

Every input is a pure function of the input variant the run seed
selects (:func:`input_seed`): the frontier is synthesized JVM-side from
``spark.range`` and salted ``xxhash64`` arithmetic, the seed lines from
a seeded numpy generator.  The program
under test receives only these generated rows.

* ``touch_5pct``  — frontier whose due rows sit in ``DUE_BUCKETS`` of the
  ``HOST_BUCKETS`` host-hash buckets; redirect-free all-success backend,
  external links ignored.  Exercises the bucketed merge path.
* ``touch_all``   — same size and fetchlist, due rows spread over every
  bucket, so the merge path rewrites every bucket.
* ``crawl_growth`` — synthetic seed lines injected, then consecutive
  cycles over the default synthetic web (redirects, gone/retry outcomes,
  robots rules, external links).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

T0 = 1_700_000_000_000
CYCLE_MS = 3_600_000
HOST_BUCKETS = 16
DUE_BUCKETS = 1
# a run seed selects one of VARIANTS input variants, so every seed has
# per-cycle counts pinned in pinned.json
VARIANTS = 16


@dataclass(frozen=True)
class Shape:
    frontier_rows: int = 0      # 0 = the frontier is grown by inject
    n_hosts: int = 1000
    due_buckets: int | None = None  # None = due rows in every bucket
    due_frac: float = 0.0       # share of rows due (touch_all)
    seed_lines: int = 0         # crawl_growth: synthetic seed lines
    topn: int = 2000
    max_count: int = -1
    ignore_external: bool = True
    all_success: bool = True


SHAPES = {
    "touch_5pct": Shape(
        frontier_rows=30_000, n_hosts=4000, due_buckets=DUE_BUCKETS,
        topn=1000, max_count=200),
    "touch_all": Shape(
        frontier_rows=30_000, n_hosts=4000, due_frac=0.05,
        topn=1000, max_count=200),
    "crawl_growth": Shape(
        seed_lines=800, n_hosts=1000, topn=20_000,
        ignore_external=False, all_success=False),
}


def input_seed(seed: int) -> int:
    """The input variant (1..VARIANTS) that run seed ``seed`` selects;
    seeds 1..VARIANTS select themselves."""
    return 1 + (int(seed) - 1) % VARIANTS


def synthesize_frontier(spark, shape: Shape, seed: int):
    """The touch_* frontier (FRONTIER schema) as a lazy DataFrame.

    Not-due rows sit strictly more than ``4 × CYCLE_MS`` in the future,
    so no stray row of an untouched bucket comes due during a run.  Due
    rows are spread over the past day."""
    from pyspark.sql import functions as F

    from coherencebot_spark.status import Db

    salt = F.lit(int(seed) * 7919 + 1)
    df = spark.range(shape.frontier_rows).select(
        F.col("id"),
        (F.abs(F.xxhash64(F.col("id"), salt, F.lit(1))) % shape.n_hosts)
        .alias("h"),
        F.abs(F.xxhash64(F.col("id"), salt, F.lit(2))).alias("r1"),
        F.abs(F.xxhash64(F.col("id"), salt, F.lit(3))).alias("r2"),
    )
    host = F.concat(F.lit("host"), F.lpad(F.col("h").cast("string"), 4, "0"),
                    F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit(f"/s{int(seed)}/"),
                   F.col("id").cast("string"))
    status = F.when(F.col("r1") % 100 < 70, F.lit(int(Db.UNFETCHED))) \
        .otherwise(F.lit(int(Db.FETCHED)))
    if shape.due_buckets is not None:
        due = (F.pmod(F.xxhash64(host), F.lit(HOST_BUCKETS))
               < int(shape.due_buckets))
    else:
        due = (F.col("r2") % 10_000) < int(shape.due_frac * 10_000)
    day = 86_400_000
    fetch_time = F.when(due, F.lit(T0) - (F.col("r2") % day)).otherwise(
        F.lit(T0 + 4 * CYCLE_MS + 1) + (F.col("r2") % day))
    return df.select(
        url.alias("url"),
        host.alias("host"),
        status.cast("int").alias("status"),
        fetch_time.cast("long").alias("fetch_time"),
        F.lit(0).alias("retries"),
        F.lit(2_592_000).cast("long").alias("fetch_interval"),
        ((F.col("r1") % 10_000).cast("float") / 100.0).alias("score"),
        F.when(status == int(Db.FETCHED), F.unhex(F.md5(url)))
        .alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )


def seed_lines(shape: Shape, seed: int) -> pd.DataFrame:
    """crawl_growth seed file lines: Zipf-distributed hosts, a share with
    tab-separated k=v metadata, a few blank and malformed lines."""
    from coherencebot_spark.synth.world import seed_url

    rng = np.random.default_rng(int(seed))
    hosts = np.minimum(rng.zipf(1.3, size=shape.seed_lines) - 1,
                       shape.n_hosts - 1)
    lines: list[str] = []
    for i in range(shape.seed_lines):
        r = rng.random()
        if r < 0.02:
            lines.append("# comment line")
        elif r < 0.04:
            lines.append(f"not_a_url_{i}")
        elif r < 0.30:
            lines.append(seed_url(int(hosts[i]), i)
                         + f"\tnutch.score={round(float(rng.random() * 5), 3)}")
        else:
            lines.append(seed_url(int(hosts[i]), i))
    return pd.DataFrame({"line": lines})


def all_success_backend(urls: pd.Series) -> pd.DataFrame:
    """Redirect-free protocol backend: every URL succeeds.  Keeping
    redirects out keeps the touched-host set equal to the due-host set."""
    from coherencebot_spark.status import Proto
    from coherencebot_spark.synth.world import fnv1a64

    h = fnv1a64(urls)
    return pd.DataFrame({
        "proto_status": np.full(len(urls), Proto.SUCCESS, dtype=np.int32),
        "redirect_to": [None] * len(urls),
        "image_idx": (h % np.uint64(1_000_000)).astype(np.int64),
    }, index=urls.index)


def allow_all_robots(hosts: pd.Series) -> pd.DataFrame:
    """Robots provider for the touch_* workloads: every host allows all."""
    return pd.DataFrame({
        "host": hosts,
        "robots_status": np.full(len(hosts), 404, dtype=np.int64),
        "disallow": [[] for _ in range(len(hosts))],
        "crawl_delay_ms": pd.Series([None] * len(hosts), dtype="Int64"),
    })
