"""The crawl-cycle driver (SURVEY.md §3.1; ref ``src/bin/crawl:316-487``).

One Python process replaces the shell loop + per-step JVM jobs: each cycle
chains generate → fetch → parse → updatedb → dedup → hostdb → linkdb as
DataFrame transformations inside a single SparkSession, committing one
snapshot per durable table per cycle (the segment analogue).  Snapshot
commit order makes every cycle resumable mid-flight (north rule):

    1. fetch_log + content snapshots   (the "segment" — durable midpoint)
    2. frontier snapshot               (the updatedb result, with metrics)

On resume, a cycle whose fetch_log exists but whose frontier snapshot
doesn't is completed from the stored fetch_log — the fetch (the only
side-effectful step) is never re-run, exactly like the reference resuming
from an existing segment.

Determinism: ``cur_time`` is injected per cycle (the reference's
``generate.curTime``); all operators are pure functions of (inputs,
cur_time, seed).

A ``.STOP`` file in the workdir ends a multi-cycle run after the current
cycle, mirroring the reference crawl script's convention.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig, DEFAULT
from ..functions.hashing import (bloom_contains_broadcast,
                                 bloom_contains_sharded, build_bloom_sharded,
                                 shard_table_bytes)
from ..operators.dedup import dedup as dedup_job, dedup_by_phash
from ..operators.fetch import fetch
from ..operators.generate import generate, stamp_generated
from ..operators.hostdb import update_hostdb
from ..operators.inject import inject
from ..operators.linkdb import invert_links, merge_linkdb
from ..operators.parse import parse, redirect_link_rows
from ..operators.updatedb import updatedb
from ..schemas import FETCH_LOG, FRONTIER, empty_df
from ..sources.snapshot import SnapshotTable
from ..status import Fetch, Msg

# URL-seen probe route: broadcast the shard table when its estimated size
# (~1.2 B/url at 1% fpp, ~10^8 urls here) is at most this many bytes,
# otherwise cogroup each probe bucket with its own shard (guide §3.1)
URL_SEEN_BROADCAST_MAX_BYTES = 128 << 20


@dataclass
class CycleMetrics:
    cycle_id: int
    generated: int = 0
    fetched: int = 0
    redirected: int = 0
    gone: int = 0
    retry: int = 0
    notmodified: int = 0
    new_links: int = 0
    frontier_size: int = 0
    per_partition: dict = field(default_factory=dict)
    # wall seconds per cycle phase (the reference logs per-MR-job
    # durations in bin/crawl; this is the same observability, and the
    # tool that found the small-file write cost)
    timings: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def _free_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``'ed frame (``unpersist``
    does not reach them; the context cleaner only does on a JVM GC)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)


class _Cuts:
    """The cycle's cut points and everything it keeps in storage
    (PLANS.md §crawl cycle).

    ``cut`` materializes a frame once with ``localCheckpoint`` — every
    later action plans against that small leaf instead of re-planning
    (and re-running) the upstream cycle — and records, under their
    aliases in ``observed``, the ``observe`` metrics that the same job
    computed.  ``cache`` is the list the operators append their internal
    persists to (fetch log, parsed pages, updatedb delta).  ``release``
    frees both at cycle end."""

    def __init__(self):
        self.cache: list[DataFrame] = []
        self.observed: dict = {}
        self._cps: list[DataFrame] = []

    def cut(self, df: DataFrame, *metrics) -> DataFrame:
        obs = Observation()
        df = df.observe(obs, *metrics).localCheckpoint()
        self._cps.append(df)
        self.observed.update(obs.get)
        return df

    def release(self) -> None:
        for df in self.cache:
            df.unpersist()
        for df in self._cps:
            _free_checkpoint(df)
        self.cache, self._cps, self.observed = [], [], {}


class CrawlDriver:
    def __init__(self, spark: SparkSession, workdir: str,
                 cfg: CrawlConfig = DEFAULT, bucketed: bool = False,
                 full_rewrite_every: int = 16, dns_resolver=None,
                 index_sink: str | None = None, index_filters=None,
                 analyze: bool = False,
                 **fetch_kwargs):
        """``bucketed=True`` enables MERGE-style frontier commits: updatedb
        runs only over the buckets touched by this cycle's fetchlist +
        discovered links, and the snapshot carries untouched buckets forward
        by reference — cycle cost ∝ touched data, not frontier size (the
        10^10-row requirement).  Every ``full_rewrite_every`` cycles a full
        snapshot compacts the merge chain.

        ``bucketed=True`` is the documented PRODUCTION posture (and the
        ``scripts/run_crawl.py`` default): at any frontier a cycle
        touches a bounded fraction of, the merge commit's cost tracks
        touched buckets while the full rewrite pays the whole frontier
        every cycle (measured: BENCH.md r4, 60-71s vs 82s at 5% touched
        on 6M rows, identical results).  The constructor default stays
        False only because the full rewrite is the simpler object for
        unit tests and tiny ad-hoc crawls."""
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.bucketed = bucketed
        self.full_rewrite_every = full_rewrite_every
        # hostdb DNS/connection probe (operators.hostdb.DnsResolver);
        # injectable — no network in the sandbox (ResolverThread analogue)
        self.dns_resolver = dns_resolver
        # --index (ref src/bin/crawl:424-429): per-cycle segment indexing
        # through the IndexingFilter chain into a file sink ("bulk" =
        # elastic _bulk NDJSON incl. -deleteGone delete actions, "json",
        # "solr" = solr-xml update commands).  index_filters overrides the
        # default index-(basic|anchor) chain (conf plugin.includes).
        self.index_sink = index_sink
        self.index_filters = index_filters
        # --analyze (ref src/bin/crawl:430-481): per-cycle segment dump +
        # crawl-completion host stats to the analysis dir (the reference
        # POSTs these to its ES dashboard; the files ARE the payloads)
        self.analyze = analyze
        self.fetch_kwargs = fetch_kwargs
        # session-cached URL-seen shard frame (localCheckpoint'ed): the
        # shard table is immutable between refreshes, so the read +
        # checkpoint job runs once per on-disk version, not once per
        # probe (invalidated by _refresh_seen_blooms)
        self._blooms_df = None
        # this cycle's checkpoints, operator caches and observed counts
        self._cuts = _Cuts()
        # full-frontier count jobs taken for the frontier_size metric in
        # merge cycles (0 in steady state — tests assert this)
        self._full_count_jobs = 0
        # full-frontier hostdb aggregations / full linkdb rewrites taken in
        # bucketed steady state (0 after bootstrap — tests assert this; the
        # same discipline as _full_count_jobs)
        self._hostdb_full_scans = 0
        self._linkdb_full_rewrites = 0
        os.makedirs(workdir, exist_ok=True)
        self.frontier = SnapshotTable(os.path.join(workdir, "frontier"), "frontier")
        self.fetch_log = SnapshotTable(os.path.join(workdir, "fetch_log"), "fetch_log")
        self.content = SnapshotTable(os.path.join(workdir, "content"), "content")
        self.linkdb = SnapshotTable(os.path.join(workdir, "linkdb"), "linkdb")
        self.hostdb = SnapshotTable(os.path.join(workdir, "hostdb"), "hostdb")

    # ------------------------------------------------------------------
    def _frontier_size(self) -> int | None:
        """``frontier_size`` recorded with the newest frontier snapshot
        (None before the first snapshot or for a snapshot without it)."""
        hist = self.frontier.history()
        if not hist:
            return None
        return (hist[-1]["metrics"] or {}).get("frontier_size")

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        """Host-bucket column for partitioned frontier storage: point
        lookups and per-bucket MERGE-style rewrites prune to one bucket
        (SnapshotTable partition_by; Iceberg bucket(N, host) analogue)."""
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("host"), F.lit(int(self.cfg.host_buckets)))
        )

    def _write_frontier(self, df: DataFrame, **kw) -> int:
        # hash-distributed (one file per bucket — Iceberg
        # write.distribution-mode=hash; without it every task writes a
        # file per bucket it holds: small-file explosion) and sorted by
        # fetch_time at rest within each host-bucket: row-group min/max
        # stats stay tight, so generate's due-filter prunes not-yet-due
        # row groups at the parquet scan (PLANS.md §storage)
        return self.frontier.write(
            self._with_bucket(df.drop("bucket")) if "bucket" not in df.columns
            else df,
            partition_by=["bucket"], sort_within=["bucket", "fetch_time"],
            distribute_by=["bucket"],
            **kw,
        )

    # -- URL-seen sharded blooms ---------------------------------------
    # Shards are HOST-bucket aligned (the frontier's own partition layout),
    # so after a merge cycle only the touched buckets' shards need a
    # rebuild — each from a partition-pruned scan of its own bucket.

    @property
    def _blooms_path(self) -> str:
        return os.path.join(self.workdir, "url_seen_blooms")

    def _host_bucket_expr(self):
        # MUST equal _with_bucket's expression: a url's shard is its
        # frontier bucket (xxhash64(NULL) is a seed constant, not NULL, so
        # null-host rows consistently map to one shard on both sides)
        return F.pmod(
            F.xxhash64("host"), F.lit(int(self.cfg.host_buckets))
        ).cast("int")

    def _refresh_seen_blooms(self, touched: list[int] | None,
                             frontier_df: DataFrame | None = None) -> None:
        """(Re)build URL-seen bloom shards.  ``touched=None`` rebuilds
        every shard; a list rebuilds only those host-buckets
        (dynamic-partition overwrite — untouched shards stay, and stay
        exact, because their buckets' url sets didn't change).

        ``frontier_df`` (bucket column required) supplies the rows —
        the cycle passes the NOT-YET-COMMITTED next frontier so the
        refresh happens BEFORE the snapshot commit: a crash between
        refresh and commit leaves shards with extra urls (false
        positives — safe, the exact join decides), whereas the reverse
        order would leave a STALE shard after a crash-after-commit
        (false negatives → double-insert on the next cycle; the
        committed-cycle resume path is an early-return no-op and could
        never repair it)."""
        if frontier_df is not None:
            frontier = frontier_df
        else:
            frontier = self.frontier.read(self.spark)
        if touched is not None:
            frontier = frontier.filter(F.col("bucket").isin(touched))
        cap = self._frontier_size() or max(frontier.count(), 1024)
        built = build_bloom_sharded(
            frontier, "url", int(cap), int(self.cfg.host_buckets),
            bucket_expr=F.col("bucket").cast("int"),
        )
        (built.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(self._blooms_path))
        if self._blooms_df is not None:
            # on-disk shards changed: drop the checkpointed old ones
            _free_checkpoint(self._blooms_df)
            self._blooms_df = None

    def _load_or_build_blooms(self) -> DataFrame:
        if self._blooms_df is not None:
            return self._blooms_df
        if not os.path.exists(self._blooms_path):
            self._refresh_seen_blooms(None)
        # checkpointed and kept on the driver object: shards are immutable
        # between refreshes, so they are read once per on-disk version,
        # not once per probe (guide §5), and no plan still scans the path
        # when _refresh_seen_blooms overwrites it
        self._blooms_df = (
            self.spark.read.parquet(self._blooms_path).localCheckpoint())
        return self._blooms_df

    def _probe_seen(self, parse_out: DataFrame):
        """(non-linked rows, linked rows with a ``maybe_seen`` flag).

        Scale-adaptive probe route (guide §3.1): the shard table is priced
        from the frontier-size metric (no Spark job) and broadcast when it
        fits, making the probe a shuffle-free mapInPandas.  Unknown size
        (no metric yet) or past the gate → the bucket cogroup.

        ``probed`` is a cut: the probe runs once, and the buckets of the
        maybe-seen rows land in ``observed["maybe_seen_buckets"]``."""
        blooms = self._load_or_build_blooms()
        linked = parse_out.filter(F.col("status") == int(Msg.LINKED))
        rest = parse_out.filter(F.col("status") != int(Msg.LINKED))
        n_buckets = int(self.cfg.host_buckets)
        cap = self._frontier_size()
        prober = (bloom_contains_broadcast
                  if cap is not None and shard_table_bytes(int(cap), n_buckets)
                  <= URL_SEEN_BROADCAST_MAX_BYTES
                  else bloom_contains_sharded)
        probed = prober(
            linked, "url", blooms, n_buckets=n_buckets,
            bucket_expr=self._host_bucket_expr(),
        )
        probed = self._cuts.cut(probed, self._buckets_where(
            F.col("maybe_seen"), "maybe_seen_buckets"))
        return rest, probed

    def _buckets_where(self, cond, alias: str):
        """Observed metric: the set of host buckets of rows with a host
        where ``cond`` holds."""
        return F.collect_set(F.when(
            cond & F.col("host").isNotNull(), self._host_bucket_expr()
        )).alias(alias)

    def _seen_split(self, parse_out: DataFrame):
        """Split LINKED rows on the URL-seen probe.  Returns
        (main_parse_out, definitely_new_linked): ``main`` keeps every
        non-linked row and the maybe-seen linked rows, which enter the
        exact merge (false positives are safe).

        additions-ON: definitely-new rows (no bloom false negatives by the
        refresh invariant) skip the frontier join and take the direct
        new-row path.  additions-OFF: the caller drops them — they were
        doomed in updatedb anyway."""
        rest, probed = self._probe_seen(parse_out)
        main = rest.unionByName(
            probed.filter(F.col("maybe_seen")).drop("maybe_seen"))
        new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        return main, new

    def inject(self, seeds: DataFrame, cur_time: int) -> int:
        if self.frontier.exists():
            base = self.frontier.read(self.spark).drop("bucket")
        else:
            base = empty_df(self.spark, FRONTIER)
        new = inject(base, seeds, cur_time, self.cfg).persist()
        n = new.count()  # seeds the incremental frontier_size chain
        sid = self._write_frontier(new, cycle_id=f"inject@{cur_time}",
                                   metrics={"frontier_size": n})
        new.unpersist()
        return sid

    # ------------------------------------------------------------------
    def _write_gen_stamp(self, frontier: DataFrame, fetchlist: DataFrame,
                         cur_time: int, cycle_id: int,
                         tb: list[int]) -> None:
        """generate.update.crawldb: persist the ``_ngt_`` pending-generate
        stamps.  In bucketed mode only the fetchlist-host buckets ``tb``
        changed, so the stamp is a MERGE commit over those buckets — a
        full rewrite here would make every cycle O(frontier) and (being
        merge-less) reset the hostdb touched-bucket tracking.

        The stamp is a left join on unique fetchlist urls, so it keeps
        the row count: the snapshot carries its parent's
        ``frontier_size`` forward, and the next merge cycle still sizes
        itself without a full-frontier count."""
        stamped = stamp_generated(frontier, fetchlist, cur_time)
        metrics = {"frontier_size": self._frontier_size()}
        if self.bucketed and self.frontier.exists():
            if not tb:
                return
            sb = self._with_bucket(stamped).filter(F.col("bucket").isin(tb))
            self.frontier.merge_write(
                sb, tb, cycle_id=f"gen@{cycle_id}", metrics=metrics,
                sort_within=["bucket", "fetch_time"],
                distribute_by=["bucket"],
            )
        else:
            self._write_frontier(stamped, cycle_id=f"gen@{cycle_id}",
                                 metrics=metrics)

    def _complete_ancillary(self, cycle_id: int) -> None:
        """Finish linkdb/hostdb for a cycle whose frontier committed but
        whose post-commit ancillary updates were lost to a crash.  Purely
        catch-up: anything already written for this (or a later) cycle is
        left untouched, so re-running a committed cycle stays a no-op."""
        if self.linkdb.snapshot_for_cycle(cycle_id) is None:
            rs = self.fetch_log.snapshot_for_cycle(cycle_id)
            cs = self.content.snapshot_for_cycle(cycle_id)
            if rs and cs:
                log = self.fetch_log.read(self.spark, rs["id"])
                content = self.content.read(self.spark, cs["id"])
                pcache: list = []
                po = parse(log, content, self.cfg, cache=pcache).unionByName(
                    redirect_link_rows(log))
                fsnap = self.frontier.snapshot_for_cycle(cycle_id)
                self._update_linkdb(
                    po, cycle_id,
                    use_merge=bool(fsnap and fsnap.get("merge"))
                    and self.linkdb.exists(),
                )
                for c in pcache:
                    c.unpersist()
        # hostdb: only if it never advanced to (or past) this cycle — a
        # later cycle's update already covers this one's frontier state,
        # and re-running would double-accumulate the failure counters
        newest = max(
            (s["cycle_id"] for s in self.hostdb.history()
             if isinstance(s["cycle_id"], int)),
            default=None,
        )
        if newest is None or newest < cycle_id:
            self._update_hostdb(cycle_id)
        # index/analyze are dir-marker idempotent — safe catch-up
        if self.index_sink is not None:
            self._index_segment(cycle_id)
        if self.analyze:
            self._analyze_segment(cycle_id)

    def should_stop(self) -> bool:
        return os.path.exists(os.path.join(self.workdir, ".STOP"))

    def _cycle_state_path(self, cycle_id: int) -> str:
        return os.path.join(self.workdir, f"cycle-{cycle_id}.json")

    def run_cycle(self, cycle_id: int, cur_time: int,
                  seeds_in_service: list[str] | None = None) -> CycleMetrics:
        """Run (or resume) one crawl cycle.  Idempotent per cycle_id."""
        cfg = self.cfg
        m = CycleMetrics(cycle_id=cycle_id)

        if self.frontier.snapshot_for_cycle(cycle_id):
            # cycle's frontier committed already — but the ancillary
            # updates run AFTER the commit, so a crash in that window
            # would otherwise lose the cycle's linkdb inlinks forever
            snap = self.frontier.snapshot_for_cycle(cycle_id)
            m.frontier_size = snap["metrics"].get("frontier_size", 0)
            self._complete_ancillary(cycle_id)
            return m

        import time as _time

        _t0 = _time.time()

        def tick(phase: str) -> None:
            nonlocal _t0
            now = _time.time()
            m.timings[phase] = round(now - _t0, 3)
            _t0 = now

        def label(phase: str) -> None:
            # job label for the UI/event log (guide §1.5) — attribution
            # only, no execution effect
            self.spark.sparkContext.setJobDescription(f"cycle:{phase}")

        label("segment")

        cuts = self._cuts
        resumed = self.fetch_log.snapshot_for_cycle(cycle_id)
        csnap = self.content.snapshot_for_cycle(cycle_id)
        if resumed and csnap:
            # mid-cycle resume: fetch already ran — reload the segment
            log = self.fetch_log.read(self.spark, resumed["id"])
            content = self.content.read(self.spark, csnap["id"])
        else:
            # note: a TORN segment (fetch_log committed, content not — a
            # crash between the two writes) is refetched from scratch,
            # exactly like the reference re-running an incomplete segment;
            # the fresh snapshots supersede the orphan in the manifest.
            frontier = self.frontier.read(self.spark).drop("bucket")
            # cut 1, the fetchlist: the gen stamp and fetch's robots
            # allowed/denied branches each read it, and without the cut
            # each re-ran generate's scan and pandas stages
            fetchlist = cuts.cut(
                generate(frontier, cur_time, cfg,
                         broadcast_select=cfg.broadcast_small_sides),
                F.collect_set(self._host_bucket_expr())
                .alias("fetchlist_buckets"))
            if cfg.generate_update_crawldb:
                self._write_gen_stamp(frontier, fetchlist, cur_time, cycle_id,
                                      cuts.observed["fetchlist_buckets"])
            if cfg.redirect_max > 0:
                from ..operators.fetch import fetch_with_redirects
                log, content = fetch_with_redirects(
                    fetchlist, cur_time, cfg, cache=cuts.cache,
                    **self.fetch_kwargs)
            else:
                log, content = fetch(fetchlist, cur_time, cfg,
                                     cache=cuts.cache, **self.fetch_kwargs)
            # durable midpoint: the "segment" commit (checkpoint/resume).
            # fetch cached its internal log (byte-free) in cuts.cache, so
            # BOTH writes materialize the same single fetch execution —
            # with a real protocol backend a second execution would both
            # double-fetch and let the two snapshots diverge on
            # nondeterministic outcomes.
            self.fetch_log.write(log, cycle_id=cycle_id)
            self.content.write(content, cycle_id=cycle_id)
            log = self.fetch_log.read(self.spark)
            content = self.content.read(self.spark)

        # per-partition lineage (north rule): ONE pass over the segment's
        # fetch log yields it and (summed driver-side) the global status
        # counters; the buckets of the fetched hosts are observed on the
        # same pass.  per_partition needs a grouping, which observe cannot
        # do, so this action stays.
        log_obs = Observation()
        per_part = (
            log.observe(log_obs,
                        self._buckets_where(F.lit(True), "log_buckets"))
            .withColumn("p", F.spark_partition_id())
            .groupBy("p", "status").count().collect()
        )
        status_counts: dict[int, int] = {}
        for r in per_part:
            m.per_partition.setdefault(str(r["p"]), {})[str(r["status"])] = r["count"]
            status_counts[r["status"]] = status_counts.get(r["status"], 0) + r["count"]
        m.fetched = status_counts.get(int(Fetch.SUCCESS), 0)
        m.redirected = (status_counts.get(int(Fetch.REDIR_TEMP), 0)
                        + status_counts.get(int(Fetch.REDIR_PERM), 0))
        m.gone = status_counts.get(int(Fetch.GONE), 0)
        m.retry = status_counts.get(int(Fetch.RETRY), 0)
        m.notmodified = status_counts.get(int(Fetch.NOTMODIFIED), 0)
        m.generated = sum(status_counts.values())
        tick("segment")  # generate + fetch + payload + commit + lineage
        label("parse")

        # cut 2, parse + redirect-linked rows — the RAW link universe,
        # before any URL-seen filtering (metrics + linkdb must see every
        # discovered link; the reference's linkdb inverts all parse
        # outlinks regardless of crawldb membership).  The probe, both
        # updatedb calls, the new-link count and linkdb read it.
        po_raw = cuts.cut(
            parse(log, content, cfg,
                  cache=cuts.cache).unionByName(redirect_link_rows(log)),
            self._buckets_where(F.col("status") != int(Msg.LINKED),
                                "rest_buckets"),
            self._buckets_where(F.col("status") == int(Msg.LINKED),
                                "linked_buckets"))
        tick("parse")

        # URL-seen bloom pre-filter (north rule); cut 3 is the probe
        # result (_probe_seen).  additions-OFF: drop definitely-new link
        # targets before they ever shuffle into updatedb (false positives
        # safe — "maybe seen" still flows through the exact join; the
        # key-set is frozen, shards build once).  additions-ON: split
        # instead of drop — definitely-new targets skip the frontier join
        # and take the direct new-row path; the touched shards are
        # rebuilt before this cycle's commit so the no-false-negative
        # invariant holds next cycle.
        parse_out = po_raw
        seen_new = None
        if cfg.use_url_seen:
            label("url_seen_probe")
            parse_out, seen_new = self._seen_split(po_raw)
            # a redirect target FETCHED in-cycle (redirect_max>0) is
            # definitely-new to the bloom but already enters the main
            # updatedb through its fetch row — routing its LINKED row
            # through the direct new-row path too would commit the url
            # TWICE into the frontier
            seen_new = (seen_new.join(log.select("url"), "url", "left_anti")
                        if cfg.additions_allowed else None)
            tick("url_seen_probe")
        label("updatedb")

        # compaction cadence counts CRAWL CYCLES, not manifest entries —
        # inject@/gen@/seed snapshots would otherwise drift the "full
        # rewrite every N cycles" contract with the feed/stamp config
        cycles_done = len([s for s in self.frontier.history()
                           if isinstance(s["cycle_id"], int)])
        use_merge = (
            self.bucketed
            and self.frontier.exists()
            and ((cycles_done + 1) % self.full_rewrite_every != 0)
        )
        touched: list[int] = []
        if use_merge:
            # buckets touched this cycle, observed on the passes above:
            # every host the segment holds (incl. time-limit-dropped rows)
            # ∪ every link/redirect target host that can change a frontier
            # row.  Rows of untouched buckets are identity under updatedb,
            # so rewriting only touched buckets is exact.  (additions-OFF
            # dropped links are provably no-ops and deliberately NOT
            # counted as touched.)
            obs = cuts.observed
            links = (obs["maybe_seen_buckets"]
                     if cfg.use_url_seen and not cfg.additions_allowed
                     else obs["linked_buckets"])
            touched = sorted(set(log_obs.get["log_buckets"])
                             | set(obs["rest_buckets"]) | set(links))
            frontier = (self.frontier.read(self.spark)
                        .filter(F.col("bucket").isin(touched)).drop("bucket"))
        else:
            frontier = self.frontier.read(self.spark).drop("bucket")

        new_frontier = updatedb(frontier, log, parse_out, cur_time, cfg,
                                seeds_in_service=seeds_in_service,
                                broadcast_delta=cfg.broadcast_small_sides,
                                cache=cuts.cache)
        if seen_new is not None:
            # definitely-new targets: same updatedb semantics against an
            # EMPTY frontier — produces exactly the new-row (linked_new)
            # branch of the cascade without probing the real frontier
            empty_f = empty_df(self.spark, FRONTIER)
            empty_log = empty_df(self.spark, FETCH_LOG)
            new_frontier = new_frontier.unionByName(
                updatedb(empty_f, empty_log, seen_new, cur_time, cfg,
                         seeds_in_service=seeds_in_service)
            )
        # dedup reads its input twice (phash attach + dup mark-back join):
        # the persist lets one updatedb evaluation feed both sides inside
        # cut 4's job, which then drops this lineage from later plans
        new_frontier = new_frontier.persist()
        cuts.cache.append(new_frontier)
        new_frontier = dedup_by_phash(
            new_frontier, content, cfg,
            broadcast_content=cfg.broadcast_small_sides)
        if cfg.dedup_phash_meta and not use_merge:
            # cross-cycle whole-db phash dedup (ref src/bin/crawl:421-422):
            # parse landed img.phash in frontier metadata (PARSE_META
            # rows), so images fetched under different urls in DIFFERENT
            # cycles compete here.  Merge cycles only see touched buckets,
            # so the whole-db pass runs on full-snapshot cycles — every
            # cycle when unbucketed, the compaction cadence when bucketed.
            new_frontier = dedup_job(
                new_frontier.withColumn(
                    "phash_meta", F.col("metadata").getItem("img.phash")),
                cfg, key_col="phash_meta",
            ).drop("phash_meta")
        # cut 4, the pre-commit next frontier (touched buckets in a merge
        # cycle, the whole frontier in a full rewrite): the shard refresh
        # and the commit read it, and its row count rides the same job
        new_frontier = cuts.cut(new_frontier,
                                F.count(F.lit(1)).alias("next_rows"))

        # newly discovered URLs: linked targets not present in the (touched
        # part of the) frontier.  Counted as |linked| − |frontier ∩ linked|
        # with the linked side broadcast so the frontier side never
        # shuffles (guide §3.2; same value by set identity while frontier
        # urls are unique — tests pin that).  The same pass
        # counts the frontier rows it read, for the incremental
        # frontier_size.  |linked| is a DISTINCT count, which observe
        # rejects: it stays an action of its own.
        linked_urls = (po_raw.filter(F.col("status") == int(Msg.LINKED))
                       .select("url").distinct())
        n_linked = linked_urls.count()
        old = (
            frontier.select("url")
            .join(F.broadcast(linked_urls.withColumn("_l", F.lit(1))),
                  "url", "left")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.count("_l").alias("present"))
            .first()
        )
        m.new_links = n_linked - old["present"]
        tick("updatedb")  # updatedb + dedup + new-link count

        # URL-seen shard refresh BEFORE the frontier commit: with
        # additions allowed the key-set grows this cycle, and the shards
        # must never go stale relative to a committed snapshot (see
        # _refresh_seen_blooms on crash ordering).  Built from cut 4 —
        # touched buckets only in merge mode.
        if cfg.use_url_seen and cfg.additions_allowed \
                and os.path.exists(self._blooms_path):
            label("url_seen_refresh")
            self._refresh_seen_blooms(
                touched if use_merge else None,
                frontier_df=self._with_bucket(new_frontier),
            )
            tick("url_seen_refresh")
        label("frontier_commit")

        meta = {k: v for k, v in m.as_dict().items() if k != "per_partition"}
        if use_merge:
            # incremental frontier_size: parent size − touched-bucket rows
            # before + touched-bucket rows after, both counted on passes
            # that run anyway — no full-frontier job in a merge cycle (the
            # fallback full count only runs for pre-metric legacy
            # snapshots, and is counted for tests).
            parent_size = self._frontier_size()
            if parent_size is not None:
                m.frontier_size = (int(parent_size) - old["rows"]
                                   + cuts.observed["next_rows"])
            meta["frontier_size"] = m.frontier_size
            self.frontier.merge_write(
                self._with_bucket(new_frontier), touched, cycle_id=cycle_id,
                metrics=meta, lineage=m.per_partition,
                sort_within=["bucket", "fetch_time"],
                distribute_by=["bucket"],
            )
            if parent_size is None:
                self._full_count_jobs += 1
                m.frontier_size = self.frontier.read(self.spark).count()
                hist = self.frontier._load()
                hist["snapshots"][-1]["metrics"]["frontier_size"] = m.frontier_size
                self.frontier._commit(hist)
        else:
            m.frontier_size = cuts.observed["next_rows"]
            meta["frontier_size"] = m.frontier_size
            self._write_frontier(
                new_frontier, cycle_id=cycle_id,
                metrics=meta, lineage=m.per_partition,
            )
        tick("frontier_commit")
        label("linkdb")

        # ancillary tables (optional steps in the reference loop)
        self._update_linkdb(po_raw, cycle_id, use_merge)
        tick("linkdb")
        label("hostdb")
        self._update_hostdb(cycle_id)
        tick("hostdb")
        if self.index_sink is not None:
            self._index_segment(cycle_id, log, content)
            tick("index")
        if self.analyze:
            self._analyze_segment(cycle_id, log)
            tick("analyze")
        # every checkpoint and cache this cycle made dies with it
        cuts.release()

        with open(self._cycle_state_path(cycle_id), "w") as f:
            json.dump(m.as_dict(), f, indent=1)
        return m

    # ------------------------------------------------------------------
    # ancillary tables: cost ∝ touched data in bucketed mode
    # ------------------------------------------------------------------
    def _with_url_bucket(self, df: DataFrame) -> DataFrame:
        """Target-url bucket for partitioned linkdb storage (linkdb is
        keyed by target url, not host — inlinks of one target must land in
        one bucket so a whole-bucket rewrite is exact)."""
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(int(self.cfg.host_buckets)))
        )

    def _update_linkdb(self, parse_out: DataFrame, cycle_id: int,
                       use_merge: bool) -> None:
        """Invert this cycle's links and merge into linkdb.

        Bucketed mode rewrites ONLY the target-url buckets that received
        new inlinks this cycle (``SnapshotTable.merge_write``), instead of
        the reference's full rewrite per cycle
        (``crawl/LinkDbMerger.java:80-110``) — at 10^10 targets the full
        rewrite dominates the cycle.  Every ``full_rewrite_every`` cycles
        the compaction cycle (same cadence as the frontier) writes a full
        snapshot, bounding the merge chain."""
        new_links = invert_links(parse_out, self.cfg)
        if use_merge and self.linkdb.exists():
            new_links = new_links.persist()
            touched = [
                r["b"] for r in self._with_url_bucket(new_links)
                .select(F.col("bucket").alias("b")).distinct().collect()
            ]
            if not touched:
                new_links.unpersist()
                return  # no links this cycle — previous snapshot stands
            old_touched = (
                self.linkdb.read(self.spark)
                .filter(F.col("bucket").isin(touched)).drop("bucket")
            )
            merged = merge_linkdb(old_touched, new_links, self.cfg)
            self.linkdb.merge_write(
                self._with_url_bucket(merged), touched, cycle_id=cycle_id,
                distribute_by=["bucket"],
            )
            new_links.unpersist()
        else:
            old = (
                self.linkdb.read(self.spark).drop("bucket")
                if self.linkdb.exists() else None
            )
            if old is not None:
                self._linkdb_full_rewrites += 1
            merged = merge_linkdb(old, new_links, self.cfg)
            self.linkdb.write(
                self._with_url_bucket(merged), cycle_id=cycle_id,
                partition_by=["bucket"], distribute_by=["bucket"],
            )

    def _touched_since_last_hostdb(self) -> list[int] | None:
        """Frontier buckets whose per-host aggregates may have changed
        since the last hostdb commit, from snapshot metadata only (no
        jobs).  None = unknown (a full frontier snapshot intervened, or no
        prior hostdb) — caller must full-scan."""
        if not self.hostdb.exists():
            return None
        last = (self.hostdb.history()[-1].get("metrics") or {}) \
            .get("frontier_snapshot")
        if last is None:
            return None
        touched: set[int] = set()
        for s in self.frontier.history():
            if s["id"] <= last:
                continue
            merge = s.get("merge")
            if merge is None:
                return None  # full rewrite in between — all buckets moved
            touched |= set(merge["touched"])
        return sorted(touched)

    def _update_hostdb(self, cycle_id: int) -> None:
        """Aggregate frontier → hostdb, gated to every ``cfg.hostdb_every``
        cycles (0 = never; ref ``src/bin/crawl:407-410`` runs the hostdb
        update optionally).  In bucketed mode only buckets touched since
        the last hostdb commit are aggregated (partition-pruned scan) and
        coalesce-merged into the previous hostdb — exact, because a host's
        frontier rows all live in its own host-hash bucket, so untouched
        buckets' per-host aggregates are unchanged by construction."""
        every = int(self.cfg.hostdb_every)
        if every <= 0 or cycle_id % every != 0:
            return
        old = self.hostdb.read(self.spark) if self.hostdb.exists() else None
        touched = (
            self._touched_since_last_hostdb()
            if (self.bucketed and old is not None) else None
        )
        cur = self.frontier.read(self.spark)
        if touched is None:
            src = cur.drop("bucket")
            if old is not None:
                self._hostdb_full_scans += 1
        else:
            if not touched:
                return  # nothing moved since last hostdb commit
            src = cur.filter(F.col("bucket").isin(touched)).drop("bucket")
        self.hostdb.write(
            update_hostdb(src, old, self.cfg, resolver=self.dns_resolver),
            cycle_id=cycle_id,
            metrics={"frontier_snapshot": self.frontier.current_id()},
        )

    def _read_at_cycle(self, table, cycle_id: int):
        """Newest snapshot of ``table`` committed at or before
        ``cycle_id`` — ancillary backfills must not see future crawl
        state (a url GONE by cycle 4 is not GONE in cycle 0's artifact).
        None when the table has no snapshot that old."""
        best = None
        for s in table.history():
            cid = s.get("cycle_id")
            if isinstance(cid, int) and cid <= cycle_id:
                best = s
        return None if best is None else table.read(self.spark, best["id"])

    @staticmethod
    def _commit_dir(outdir: str):
        """Write-to-tmp + atomic rename: the committed dir is the
        idempotency marker, so a crash mid-write must not leave it
        present (Spark creates the target dir before committing part
        files — a bare existence check would treat torn output as done).
        Usage: ``with`` — the tmp path is yielded, renamed on success,
        left for the next attempt to clear on failure."""
        import contextlib
        import shutil

        @contextlib.contextmanager
        def cm():
            tmp = outdir + ".tmp"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            yield tmp
            os.rename(tmp, outdir)

        return cm()

    def _index_segment(self, cycle_id: int, log=None, content=None) -> None:
        """--index step (ref ``src/bin/crawl:424-429``: ``index crawldb
        -linkdb linkdb segments/$SEGMENT -deleteGone``): build the J5
        document join for THIS cycle's segment, run the IndexingFilter
        chain, write adds + deletions to the configured file sink.

        The doc frame maps the image+caption graft onto the NutchDocument
        fields: ``text`` = caption (the indexable text of an image doc),
        ``tstamp``/``fetch_time`` = the segment's actual fetch instant
        (IndexerMapReduce uses the fetchDatum, not the crawldb's
        next-fetch time), ``db_meta`` = frontier metadata (org.slug etc.).
        Only segment rows WITH a content row become adds — retry/redirect/
        notmodified rows have no parse, and IndexerMapReduce skips docs
        without fetch success + parse text (an empty re-add would wipe a
        good index entry).  Payload bytes never enter the join.
        Idempotent per cycle: written to ``.tmp`` + atomic rename, and
        the frontier/linkdb are read at THIS cycle's snapshots so a
        catch-up backfill equals the in-cycle artifact.
        """
        from ..operators.indexing import anchor_filter, apply_chain, basic_filter
        from ..sources.sinks import (build_segment_index_documents,
                                     write_elastic_bulk, write_json,
                                     write_solr_xml)

        outdir = os.path.join(self.workdir, "index", f"cycle-{cycle_id}")
        if os.path.exists(outdir):
            return
        if log is None or content is None:
            rs = self.fetch_log.snapshot_for_cycle(cycle_id)
            cs = self.content.snapshot_for_cycle(cycle_id)
            if not (rs and cs):
                return
            log = self.fetch_log.read(self.spark, rs["id"])
            content = self.content.read(self.spark, cs["id"])
        frontier = self._read_at_cycle(self.frontier, cycle_id)
        if frontier is None:
            return
        frontier = frontier.drop("bucket")
        linkdb = self._read_at_cycle(self.linkdb, cycle_id)
        narrow = content.select("url", "image_id", "w", "h", "fmt",
                                "caption", "phash")
        # segment restriction FIRST (broadcast inner join when enabled) so
        # the 10^10-row frontier and the linkdb never shuffle full tables
        seg = log.select("url", F.col("fetch_time").alias("_seg_ms"))
        docs = build_segment_index_documents(
            frontier, narrow, seg, linkdb,
            broadcast_seg=self.cfg.broadcast_small_sides)
        docs = (docs
                .withColumn("fetch_time", F.col("_seg_ms")).drop("_seg_ms")
                .withColumn("text", F.coalesce(F.col("caption"), F.lit("")))
                .withColumn("title", F.lit(None).cast("string"))
                .withColumn("db_meta", F.col("metadata")))
        if "anchors" not in docs.columns:
            docs = docs.withColumn("anchors",
                                   F.lit(None).cast("array<string>"))
        deletes = docs.filter(F.col("_delete"))
        chain = (self.index_filters if self.index_filters is not None
                 else [basic_filter(add_domain=True), anchor_filter()])
        # filters only shape/gate ADD docs; deletions bypass the chain
        # (IndexerMapReduce emits the delete before filtering); adds
        # need a parse → content row (image_id present)
        adds = apply_chain(
            docs.filter(~F.col("_delete") & F.col("image_id").isNotNull()),
            chain)
        out = adds.unionByName(deletes, allowMissingColumns=True)
        with self._commit_dir(outdir) as tmp:
            if self.index_sink == "bulk":
                write_elastic_bulk(out, tmp, index="coherencebot")
            elif self.index_sink == "solr":
                write_solr_xml(out, tmp)
            else:
                write_json(out, tmp)

    def _analyze_segment(self, cycle_id: int, log=None) -> None:
        """--analyze step (ref ``src/bin/crawl:430-481``): readseg-style
        fetch dump (no payload) + crawl-completion host stats, one dir per
        cycle under ``analysis/`` — the file payloads the reference POSTs
        to its ES dashboard.  Idempotent per cycle: both sub-outputs land
        in one ``.tmp`` dir renamed atomically (a crash between the two
        writes must not mark the cycle done); stats read the frontier at
        THIS cycle's snapshot."""
        from ..operators.readdb import crawl_completion_stats
        from ..sources.sinks import write_json

        adir = os.path.join(self.workdir, "analysis", f"cycle-{cycle_id}")
        if os.path.exists(adir):
            return
        if log is None:
            rs = self.fetch_log.snapshot_for_cycle(cycle_id)
            if not rs:
                return
            log = self.fetch_log.read(self.spark, rs["id"])
        frontier = self._read_at_cycle(self.frontier, cycle_id)
        if frontier is None:
            return
        with self._commit_dir(adir) as tmp:
            write_json(log.drop("signature", "metadata"),
                       os.path.join(tmp, "readseg"))
            write_json(crawl_completion_stats(frontier.drop("bucket"),
                                              mode="host"),
                       os.path.join(tmp, "crawlcomplete"))

    def run(self, n_cycles: int, t0: int, cycle_ms: int = 3_600_000,
            feed=None, feed_every: int = 1) -> list[CycleMetrics]:
        """The crawl loop (`bin/crawl`): n cycles (or until .STOP).

        ``feed`` — a seed source with ``fetch_seeds(spark) -> DataFrame``
        (``sources.seeds.FeedInjector``): its seeds are injected before
        every ``feed_every``-th cycle, matching the production
        ``--feed`` invocation that pulls the collection API each
        iteration (ref ``deploy/README.md:69``, ``crawl/FeedInjector``).
        A feed failure skips that cycle's injection but not the crawl —
        the reference loop likewise survives a collection-API outage."""
        out = []
        start = len([s for s in self.frontier.history()
                     if isinstance(s["cycle_id"], int)])
        for k in range(start, start + n_cycles):
            if self.should_stop():
                break
            cur = t0 + k * cycle_ms
            if feed is not None and feed_every > 0 and k % feed_every == 0:
                try:
                    self.inject(feed.fetch_seeds(self.spark), cur)
                except Exception as e:  # noqa: BLE001 — feed is external I/O
                    print(f"feed-inject failed for cycle {k}: {e}")
            out.append(self.run_cycle(k, cur))
        return out
