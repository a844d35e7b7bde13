"""Correctness checks run after the timed cycles.

They read the committed tables through :func:`committed_frontier`, a
resolver written here from the manifest format rather than through
``SnapshotTable.read``, so a defect in the program's own reader cannot
hide a defect in what it committed.  Each check returns ``None`` when it
holds and a one-line reason when it does not.
"""

from __future__ import annotations

import json
import os

import numpy as np

# the URL-seen shard layout: double hashing over two xxhash64 seeds
# (Kirsch-Mitzenmacher), k positions (h1 + i*h2) mod m in uint64 words
H2_SEED = 0x9E3779B9


def committed_frontier(spark, table_path: str, snapshot_id: int | None = None):
    """The frontier rows of ``snapshot_id`` (default: current), resolved
    from ``manifest.json``: a merge snapshot owns its touched buckets
    that no newer snapshot in the chain replaced, and the chain ends at
    the nearest full snapshot, which owns every remaining bucket."""
    from pyspark.sql import functions as F

    with open(os.path.join(table_path, "manifest.json")) as f:
        man = json.load(f)
    snaps = man["snapshots"]
    sid = man["current"] if snapshot_id is None else snapshot_id
    covered: set[int] = set()
    parts = []
    while True:
        entry = snaps[sid]
        df = spark.read.parquet(
            os.path.join(table_path, "snapshots", entry["dir"]))
        merge = entry.get("merge")
        if merge is None:
            if covered:
                df = df.filter(~F.col("bucket").isin(sorted(covered)))
            parts.append(df)
            break
        own = sorted(set(merge["touched"]) - covered)
        parts.append(df.filter(F.col("bucket").isin(own)))
        covered |= set(merge["touched"])
        sid = entry["parent"]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def chain_depth(table_path: str) -> int:
    """Snapshots a read of the current frontier resolves (1 = a full
    snapshot alone)."""
    with open(os.path.join(table_path, "manifest.json")) as f:
        man = json.load(f)
    depth, sid = 0, man["current"]
    while sid is not None:
        depth += 1
        entry = man["snapshots"][sid]
        sid = entry["parent"] if entry.get("merge") is not None else None
    return depth


def check_unique(frontier) -> str | None:
    """(a) every frontier URL appears once."""
    dups = frontier.groupBy("url").count().filter("count > 1").count()
    return None if dups == 0 else f"{dups} frontier urls appear more than once"


def check_size_metric(metric_size: int, frontier_rows: int) -> str | None:
    """(b) the reported ``frontier_size`` equals an independent count."""
    if int(metric_size) == int(frontier_rows):
        return None
    return (f"frontier_size metric {metric_size} != committed rows "
            f"{frontier_rows}")


def check_growth(start_rows: int, new_links: list[int],
                 final_rows: int) -> str | None:
    """(c) rows after the cycles = rows before + Σ new_links."""
    want = int(start_rows) + sum(int(n) for n in new_links)
    if want == int(final_rows):
        return None
    return (f"final rows {final_rows} != start {start_rows} + "
            f"new links {sum(new_links)}")


def missing_from_shards(frontier, shards_path: str, n_buckets: int) -> int:
    """Frontier URLs that do NOT probe as maybe-seen against the shards
    on disk — URL-seen false negatives.  The probe is computed here in
    numpy from the shard bits, independent of the program's prober."""
    from pyspark.sql import functions as F

    spark = frontier.sparkSession
    shards = {int(r["bucket"]): (int(r["m"]), int(r["k"]),
                                 np.frombuffer(r["bits"], dtype=np.uint64))
              for r in spark.read.parquet(shards_path)
              .select("bucket", "m", "k", "bits").collect()}
    keys = frontier.select(
        F.pmod(F.xxhash64("host"), F.lit(int(n_buckets))).cast("int")
        .alias("b"),
        F.xxhash64("url").alias("h1"),
        F.xxhash64("url", F.lit(H2_SEED)).alias("h2"),
    ).toPandas()
    if keys.empty:
        return 0
    b = keys["b"].to_numpy()
    h1 = keys["h1"].to_numpy(dtype=np.int64).view(np.uint64)
    h2 = keys["h2"].to_numpy(dtype=np.int64).view(np.uint64)
    hit = np.zeros(len(keys), dtype=bool)
    for bucket in np.unique(b):
        rows = b == bucket
        shard = shards.get(int(bucket))
        if shard is None:
            continue  # no shard for the bucket: every url is a miss
        m, k, bits = shard
        i = np.arange(k, dtype=np.uint64)[None, :]
        pos = (h1[rows, None] + i * h2[rows, None]) % np.uint64(m)
        word = bits[(pos // np.uint64(64)).astype(np.int64)]
        hit[rows] = (((word >> (pos % np.uint64(64))) & np.uint64(1))
                     == 1).all(axis=1)
    return int((~hit).sum())


def check_no_false_negatives(frontier, shards_path: str,
                             n_buckets: int) -> str | None:
    """(d) every committed frontier URL probes as maybe-seen."""
    miss = missing_from_shards(frontier, shards_path, n_buckets)
    return None if miss == 0 else f"{miss} frontier urls missing from shards"


UNPINNED = "no pinned counts"


def check_pinned(counts: list[tuple[int, int, int]],
                 pinned: list[list[int]] | None,
                 what: str) -> list[str | None]:
    """(e) per-cycle (generated, fetched, new_links) equal the counts
    pinned for ``what`` (the workload's input variant); one verdict per
    cycle.  A cycle with no pinned counts fails: nothing was compared."""
    pinned = pinned or []
    out: list[str | None] = []
    for i, got in enumerate(counts):
        if i >= len(pinned):
            out.append(f"cycle {i}: {UNPINNED} for {what}")
        elif list(got) == list(pinned[i]):
            out.append(None)
        else:
            out.append(f"cycle {i}: (generated, fetched, new_links) "
                       f"{list(got)} != pinned {list(pinned[i])} for {what}")
    return out


def check_segment(generated: int, fetched: int, fetch_log) -> str | None:
    """(e) the cycle's ``generated`` / ``fetched`` equal the rows /
    success rows of the segment it committed."""
    from pyspark.sql import functions as F

    from coherencebot_spark.status import Fetch

    r = fetch_log.agg(
        F.count("*").alias("n"),
        F.sum((F.col("status") == int(Fetch.SUCCESS)).cast("long"))
        .alias("ok")).first()
    got = (int(r["n"]), int(r["ok"] or 0))
    if got == (int(generated), int(fetched)):
        return None
    return (f"(generated, fetched) ({generated}, {fetched}) != committed "
            f"segment {got}")
