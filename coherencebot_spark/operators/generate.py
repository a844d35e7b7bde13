"""Generate — select the next fetchlist from the frontier
(SURVEY.md §2 F4/F5, W1-W4, J4, O1/O2; ref ``crawl/Generator.java``).

The reference's two chained MR jobs (select + partition) become one
DataFrame plan:

1. **Gates** (``Generator.java:214-290``): filter chain, shouldFetch due
   test with far-future clamp (``AbstractFetchSchedule.java:189-203``),
   pending ``_ngt_`` exclusion, SQL expression (the Jexl analogue),
   status restriction, min-score, max-interval — all Catalyst column
   predicates, evaluated *before* any shuffle (the reference's map-side
   early-filter, free here by construction).

2. **Partitioning parity** (``URLPartitioner.java:75-107``):
   ``partition_id = (javaHashCode(host) ^ seed) & MAX_INT % P`` — a
   vectorized pandas UDF reproducing the Java arithmetic bit-for-bit so
   crawl ordering matches the reference under the same seed.

3. **Selection** (``Generator.java:381-382, 410-546``): the per-reducer
   quota ``limit = topN / P`` (deliberately NOT an exact global top-N — we
   reproduce the reference's approximation exactly), per-host/domain
   ``maxCount`` caps, segment overflow.  Two physical strategies:

   * pure window arithmetic (exact) when ``max_num_segments == 1`` or no
     per-host cap — stays entirely in Tungsten;
   * an ``applyInPandas`` per-partition counter simulation for the general
     multi-segment overflow case, fed only *pruned* candidates (per-host
     rank ≤ (maxCount+2)·segments), so the Python stage sees O(fetchlist)
     rows, never O(frontier).

4. **Politeness pre-ordering** (``Generator.java:606-637``): the
   fetchlist's within-partition order is the tail-weighted URL hash
   (vectorized closed form in ``functions.hashing.nutch_tail_hash``) so
   consecutive fetches hit different hosts, exactly as the reference's
   HashComparator sorts.

Ties on equal score are stream-order-nondeterministic in the reference;
we pin url-ascending (SURVEY.md §7.3 risk 2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from ..config import CrawlConfig, DEFAULT
from ..functions.hashing import host_partition, nutch_tail_hash
from ..functions.urls import URLFilterChain, domain_of, with_filter_accept
from ..schemas import FETCHLIST


def _gates(frontier: DataFrame, cur_time: int, cfg: CrawlConfig,
           chain: URLFilterChain | None, normalize: bool = False) -> DataFrame:
    df = frontier
    if normalize:
        # generate.normalise (GeneratorMapper: normalize BEFORE filtering;
        # a url the normalizer rejects is dropped).  The frontier is
        # already normalized at ingest, so this pass only matters when
        # normalizer rules changed since rows were written — and in that
        # migration scenario the frontier KEYS must also be rewritten once
        # (operators.migrate.normalize_frontier), or the renamed urls in
        # the fetch delta never match their old frontier rows and the
        # originals stay due forever.
        from ..functions.urls import with_host, with_normalized_url

        df = with_normalized_url(df, "url", "url") \
            .filter(F.col("url").isNotNull())
        df = with_host(df, "url", "host")
    if cfg.filter_on_generate and chain is not None:
        df = with_filter_accept(df, chain, "url", "_ok").filter("_ok").drop("_ok")

    max_int_ms = F.lit(int(cfg.interval_max_s) * 1000)
    far_future = (F.col("fetch_time") - F.lit(cur_time)) > max_int_ms
    # Due-filter on the RAW column FIRST: the post-clamp filter below sees
    # a CASE expression Catalyst cannot push, so without this conjunct the
    # scan decodes the whole frontier.  A row survives the clamped filter
    # iff (fetch_time <= now) OR far_future — both plain range predicates
    # on the stored column, so they reach the parquet scan as
    # PushedFilters and prune not-yet-due row groups (the frontier is
    # written sorted by fetch_time within buckets; tests assert both the
    # pushdown and the decode drop).
    df = df.filter(
        (F.col("fetch_time") <= F.lit(cur_time))
        | (F.col("fetch_time") > F.lit(cur_time) + max_int_ms)
    )
    # far-future clamp mutates the generated entry (AbstractFetchSchedule:193-198)
    df = df.withColumn(
        "fetch_interval",
        F.when(far_future & (F.col("fetch_interval") > int(cfg.interval_max_s)),
               (F.lit(float(cfg.interval_max_s)) * 0.9).cast("long"))
        .otherwise(F.col("fetch_interval")),
    ).withColumn(
        "fetch_time",
        F.when(far_future, F.lit(cur_time)).otherwise(F.col("fetch_time")),
    )
    df = df.filter(F.col("fetch_time") <= F.lit(cur_time))

    # pending-generate exclusion (_ngt_; Generator.java:238-244)
    ngt = F.col("metadata").getItem("_ngt_").cast("long")
    df = df.filter(ngt.isNull() | (ngt + F.lit(int(cfg.gen_delay_ms)) <= F.lit(cur_time)))

    if cfg.expr:
        df = df.filter(F.expr(cfg.expr))
    if cfg.restrict_status is not None:
        df = df.filter(F.col("status") == int(cfg.restrict_status))

    # OPIC generator sort value: sort = score * initSort (initSort = 1)
    sort_val = F.col("score")
    if cfg.ext_boost_extensions:
        # scoring-ext ExtensionAnalysisScoringFilter.generatorSortValue
        # (:70-84): +boost when the lowercased url contains ".<ext>" at
        # index > 0 (instr is 1-based, so > 1)
        hit = F.lit(False)
        for ext in cfg.ext_boost_extensions:
            hit = hit | (F.instr(F.lower(F.col("url")),
                                 "." + str(ext).lower()) > 1)
        sort_val = F.when(hit, sort_val + F.lit(float(cfg.ext_boost))
                          ).otherwise(sort_val)
    df = df.withColumn("sort_score", sort_val)
    if cfg.min_score > 0.0:
        df = df.filter(F.col("sort_score") >= float(cfg.min_score))
    if cfg.min_interval_s != -1:
        df = df.filter(F.col("fetch_interval") <= int(cfg.min_interval_s))
    return df


def _with_host_attrs(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """partition_id + hostordomain via the DISTINCT-host side channel.

    Both columns are pure functions of ``host``, so the Java-hash Arrow
    round-trip only needs to touch |distinct hosts| rows (≈10^4-10^6),
    not |frontier| (≈10^10) — computed per distinct host and
    broadcast-joined back.
    """
    seed, nparts = cfg.seed, cfg.num_partitions
    by_domain = cfg.count_mode == "byDomain"

    def attrs(it):
        for pdf in it:
            h = pdf["_hkey"]
            out = pd.DataFrame({"_hkey": h})
            out["partition_id"] = host_partition(h, seed, nparts).astype("int32")
            out["hostordomain"] = (
                domain_of(h).astype(object) if by_domain else h
            )
            yield out

    hosts = df.select(F.coalesce("host", F.lit("")).alias("_hkey")).distinct()
    hattrs = hosts.mapInPandas(
        attrs, schema="_hkey string, partition_id int, hostordomain string"
    )
    return (
        df.withColumn("_hkey", F.coalesce("host", F.lit("")))
        .join(F.broadcast(hattrs), "_hkey", "left")
        .drop("_hkey")
    )


def _select_window(df: DataFrame, cfg: CrawlConfig, limit: int) -> DataFrame:
    """Exact selection via windows (single-segment, or no per-host cap)."""
    order = [F.desc("sort_score"), F.asc("url")]
    if cfg.max_count > 0:
        whost = Window.partitionBy("partition_id", "hostordomain").orderBy(*order)
        df = (
            df.withColumn("_hrn", F.row_number().over(whost))
            .filter(F.col("_hrn") <= int(cfg.max_count))
            .drop("_hrn")
        )
        wpart = Window.partitionBy("partition_id").orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(wpart))
            .filter(F.col("_rn") <= limit)
            .withColumn("segnum", F.lit(1))
            .drop("_rn")
        )
    wpart = Window.partitionBy("partition_id").orderBy(*order)
    df = df.withColumn("_rn", F.row_number().over(wpart))
    df = df.withColumn(
        "segnum", ((F.col("_rn") - 1) / F.lit(limit)).cast("int") + 1
    ).filter(F.col("segnum") <= int(cfg.max_num_segments)).drop("_rn")
    return df


def _select_simulated(df: DataFrame, cfg: CrawlConfig, limit: int) -> DataFrame:
    """General multi-segment + per-host-cap path: per-partition counter
    simulation reproducing SelectorReducer (Generator.java:410-546).

    Prune first so the pandas stage sees only plausible rows."""
    order = [F.desc("sort_score"), F.asc("url")]
    whost = Window.partitionBy("partition_id", "hostordomain").orderBy(*order)
    bound = (cfg.max_count + 2) * cfg.max_num_segments
    pruned = (
        df.withColumn("_hrn", F.row_number().over(whost))
        .filter(F.col("_hrn") <= bound)
        .drop("_hrn")
    )
    max_count, max_segs = cfg.max_count, cfg.max_num_segments

    def simulate(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sort_score", "url"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        seg_counts = np.zeros(max_segs, dtype=np.int64)
        host_state: dict[str, list[int]] = {}
        count, cur_seg = 0, 1
        keep = np.zeros(len(pdf), dtype=bool)
        seg_out = np.zeros(len(pdf), dtype=np.int32)
        hods = pdf["hostordomain"].to_numpy(dtype=object)
        for i in range(len(pdf)):
            if count == limit:
                if cur_seg < max_segs:
                    count = 0
                    cur_seg += 1
                else:
                    break
            hod = hods[i]
            st = host_state.get(hod)
            if st is None:
                st = [1, 0]
                host_state[hod] = st
            st[1] += 1
            while seg_counts[st[0] - 1] >= limit and st[0] < max_segs:
                st[0] += 1
                st[1] = 0
            if st[1] > max_count:
                if st[0] < max_segs:
                    st[0] += 1
                    st[1] = 1
                else:
                    continue  # skip: host overflow
            keep[i] = True
            seg_out[i] = st[0]
            seg_counts[st[0] - 1] += 1
            count += 1
        out = pdf[keep].copy()
        out["segnum"] = seg_out[keep]
        return out

    from pyspark.sql.types import StructField, StructType

    schema = StructType(list(pruned.schema.fields) + [StructField("segnum", IntegerType(), False)])
    return pruned.groupBy("partition_id").applyInPandas(simulate, schema=schema)


def generate(frontier: DataFrame, cur_time: int, cfg: CrawlConfig = DEFAULT,
             chain: URLFilterChain | None = None,
             hostdb: DataFrame | None = None,
             max_count_expr: str | None = None,
             fetch_delay_expr: str | None = None,
             broadcast_select: bool = False,
             normalize: bool | None = None) -> DataFrame:
    """Select the next fetchlist.  Returns FETCHLIST-schema DataFrame.

    ``hostdb`` (optional) is broadcast-joined on host (strictly better than
    the reference's per-reducer linear scan, Generator.java:552-568); the
    Jexl ``max_count_expr`` / ``fetch_delay_expr`` become SQL expressions
    over the joined hostdb columns (SURVEY.md C9/W3).

    ``broadcast_select=True``: the selection windows shuffle only the
    narrow deciding columns (url, sort key, partition/host keys, the
    clamp-mutated times) — roughly 3x less exchange traffic than full
    rows — and the selected fetchlist (topN-bounded, small by contract)
    broadcast-joins back to recover the wide columns without moving the
    frontier.  Use when topN fits a broadcast; at larger topN keep the
    default (or bucket the frontier by url and let the join-back be
    storage-partitioned).
    """
    # metadata overlays below use map_concat with last-wins semantics
    # (the reference's MapWritable.putAll overwrites keys); enforce the
    # policy at the operator boundary — a session not built by
    # session.build_session defaults to EXCEPTION and would abort on the
    # first re-stamped key
    frontier.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # generate.normalise: cfg drives it (reachable from the crawl driver
    # and CLI); an explicit call-site bool overrides
    do_norm = (cfg.normalise_on_generate if normalize is None
               else bool(normalize))
    df = _gates(frontier, cur_time, cfg, chain, normalize=do_norm)
    df = _with_host_attrs(df, cfg)

    if hostdb is not None:
        hcols = [c for c in hostdb.columns if c != "host"]
        hsel = hostdb.select(
            "host", *[F.col(c).alias(f"hd_{c}") for c in hcols]
        )
        df = df.join(F.broadcast(hsel), "host", "left")
        if fetch_delay_expr:
            delay = F.expr(fetch_delay_expr).cast("long")
            df = df.withColumn(
                "metadata",
                F.when(
                    delay.isNotNull() & (delay > 0),
                    F.map_concat(
                        F.coalesce(F.col("metadata"), F.expr("map()")),
                        F.create_map(F.lit("_variableFetchDelay_"), delay.cast("string")),
                    ),
                ).otherwise(F.col("metadata")),
            )

    limit = cfg.topn // cfg.num_partitions if cfg.topn > 0 else (1 << 62)

    wide = df
    if broadcast_select:
        # the windows decide membership + segnum from these columns alone;
        # fetch_time/fetch_interval ride along because the far-future
        # clamp in _gates may have mutated them
        narrow = ["url", "sort_score", "partition_id", "hostordomain",
                  "fetch_time", "fetch_interval"]
        if hostdb is not None and max_count_expr:
            df = df.withColumn(
                "_mcin",
                F.coalesce(F.expr(max_count_expr).cast("int"),
                           F.lit(int(cfg.max_count))),
            )
            wide = df
            narrow.append("_mcin")
        df = df.select(*narrow)

    if hostdb is not None and max_count_expr:
        # per-host variable maxCount forces the window path w/ a column cap
        order = [F.desc("sort_score"), F.asc("url")]
        mc = (F.col("_mcin") if broadcast_select
              else F.coalesce(F.expr(max_count_expr).cast("int"),
                              F.lit(int(cfg.max_count))))
        whost = Window.partitionBy("partition_id", "hostordomain").orderBy(*order)
        df = (
            df.withColumn("_mc", mc)
            .withColumn("_hrn", F.row_number().over(whost))
            .filter((F.col("_mc") <= 0) | (F.col("_hrn") <= F.col("_mc")))
            .drop("_hrn", "_mc")
        )
        wpart = Window.partitionBy("partition_id").orderBy(*order)
        df = (
            df.withColumn("_rn", F.row_number().over(wpart))
            .filter(F.col("_rn") <= limit)
            .withColumn("segnum", F.lit(1))
            .drop("_rn")
        )
    elif cfg.max_count > 0 and cfg.max_num_segments > 1:
        df = _select_simulated(df, cfg, limit)
    else:
        df = _select_window(df, cfg, limit)

    if broadcast_select:
        sel = df.select("url", "fetch_time", "fetch_interval",
                        "partition_id", "segnum")
        df = (
            wide.drop("fetch_time", "fetch_interval", "partition_id",
                      *(["_mcin"] if (hostdb is not None and max_count_expr)
                        else []))
            .join(F.broadcast(sel), "url", "inner")
        )

    # stamp generate time (_ngt_) into the selected entries
    # (Generator.java:286-287); fetch order within a partition is the
    # tail-weighted url hash (HashComparator, Generator.java:606-637)
    @F.pandas_udf(LongType())
    def _sortkey(url: pd.Series) -> pd.Series:
        return pd.Series(nutch_tail_hash(url).astype(np.int64), index=url.index)

    df = df.withColumn(
        "metadata",
        F.map_concat(
            F.coalesce(F.col("metadata"), F.expr("map()")),
            F.create_map(F.lit("_ngt_"), F.lit(str(cur_time))),
        ),
    ).withColumn("sort_key", _sortkey(F.col("url")))

    return df.select([f.name for f in FETCHLIST.fields])


def free_generate(urls: DataFrame, cfg: CrawlConfig = DEFAULT,
                  chain: URLFilterChain | None = None,
                  normalize: bool = True, filter_urls: bool = True,
                  cur_time: int = 0) -> DataFrame:
    """FreeGenerator (``tools/FreeGenerator.java``): build a fetchlist
    straight from a URL list, bypassing the frontier — normalize
    (inject scope) + filter per flags, injected score, default interval,
    dedup by url, reference partitioning + politeness sort order.

    ``urls``: DataFrame with a ``url`` string column.
    """
    from ..functions.urls import normalize_urls

    df = urls.select(F.col("url").cast("string").alias("url"))
    if normalize:
        @F.pandas_udf("string")
        def _norm(u: pd.Series) -> pd.Series:
            return normalize_urls(u)

        df = df.withColumn("url", _norm(F.col("url"))).filter(
            F.col("url").isNotNull())
    if filter_urls and chain is not None:
        df = with_filter_accept(df, chain, "url", "_ok").filter("_ok").drop("_ok")
    df = df.dropDuplicates(["url"])  # FGReducer's unique map
    df = df.select(
        "url",
        F.lower(F.expr("parse_url(url, 'HOST')")).alias("host"),
        F.lit(1).cast("int").alias("status"),  # db_unfetched
        F.lit(int(cur_time)).cast("long").alias("fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(int(cfg.interval_default_s)).cast("long").alias("fetch_interval"),
        F.lit(float(cfg.score_injected)).cast("float").alias("score"),
        F.lit(None).cast("binary").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )
    df = _with_host_attrs(df, cfg).withColumn("segnum", F.lit(1))

    @F.pandas_udf(LongType())
    def _sortkey(url: pd.Series) -> pd.Series:
        return pd.Series(nutch_tail_hash(url).astype(np.int64), index=url.index)

    df = df.withColumn("sort_key", _sortkey(F.col("url")))
    return df.select([f.name for f in FETCHLIST.fields])


def stamp_generated(frontier: DataFrame, fetchlist: DataFrame,
                    cur_time: int) -> DataFrame:
    """generate.update.crawldb: write _ngt_ back into the frontier so the
    next generate (within gen_delay) skips in-flight URLs
    (CrawlDbUpdater, Generator.java:642-691)."""
    # re-stamping a still-pending row concats a duplicate _ngt_ key —
    # last-wins by contract (MapWritable.putAll), enforced here so the
    # operator works on sessions not built by session.build_session
    frontier.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    marked = fetchlist.select("url", F.lit(str(cur_time)).alias("_gt"))
    return (
        frontier.join(marked, "url", "left")
        .withColumn(
            "metadata",
            F.when(
                F.col("_gt").isNotNull(),
                F.map_concat(
                    F.coalesce(F.col("metadata"), F.expr("map()")),
                    F.create_map(F.lit("_ngt_"), F.col("_gt")),
                ),
            ).otherwise(F.col("metadata")),
        )
        .drop("_gt")
    )
