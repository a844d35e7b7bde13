"""Engine configuration — the subset of nutch-default.xml the rebuild honors.

Defaults mirror ``conf/nutch-default.xml`` of the reference (citations per
field).  All times are epoch **milliseconds** (the reference keeps epoch-ms
longs throughout; we preserve that for bit-exact schedule parity —
SURVEY.md §2.8 C8).  "now" is never read from the wall clock inside an
operator: the cycle driver injects ``cur_time`` exactly as the reference
does via ``generate.curTime`` / ``injector.current.time``.

``use_url_seen`` is the URL-seen index's only switch.  The index is always
per-host-bucket bloom shards, and the crawl driver picks the probe route
(broadcast or bucket cogroup) from the frontier size it already records
(``plans.cycle.URL_SEEN_BROADCAST_MAX_BYTES``).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

DAY_MS = 24 * 3600 * 1000
SEC_MS = 1000


@dataclass(frozen=True)
class CrawlConfig:
    # --- injector (conf/nutch-default.xml, crawl/Injector.java) ---
    score_injected: float = 1.0          # db.score.injected
    interval_default_s: int = 30 * 86400  # db.fetch.interval.default (30d)
    interval_max_s: int = 90 * 86400      # db.fetch.interval.max (90d)
    inject_overwrite: bool = False        # db.injector.overwrite
    inject_update: bool = False           # db.injector.update

    # --- generator (crawl/Generator.java) ---
    topn: int = 50_000                    # --size-fetchlist (src/bin/crawl:132)
    num_partitions: int = 2               # numLists / reduce tasks (src/bin/crawl:131)
    max_count: int = -1                   # generate.max.count (-1 = unlimited)
    count_mode: str = "byHost"            # generate.count.mode (byHost|byDomain)
    max_num_segments: int = 1             # -maxNumSegments
    gen_delay_ms: int = 7 * DAY_MS        # crawl.gen.delay (7 days)
    min_score: float = 0.0                # generate.min.score
    ext_boost_extensions: tuple = ()      # scoring.ext.extensions (scoring-ext)
    ext_boost: float = 10.0               # scoring.ext.boost
    # scoring filter plugin: "opic" (scoring-opic, default plugin set) or
    # "link" (scoring-link LinkAnalysisScoringFilter: updateDb/distribute
    # are no-ops — scores come solely from the WebGraph/LinkRank
    # ScoreUpdater job — and indexer boost = normalize * db score)
    scoring_filter: str = "opic"
    link_normalize_score: float = 1.0     # link.analyze.normalize.score
    min_interval_s: int = -1              # generate.min.interval
    restrict_status: int | None = None    # generate.restrict.status
    expr: str | None = None               # Jexl expr -> SQL string (C9)
    filter_on_generate: bool = True
    # generate.normalise: reference default is TRUE (normalize every url
    # at every generate).  Here the frontier is normalized at ingest
    # (inject/updatedb), so the per-generate pandas pass over the whole
    # due set is pure waste at 10^10 unless normalizer RULES changed
    # since rows were written — flip this on (or pass --normalise-on-
    # generate to the CLI) for exactly that migration scenario.
    # Documented deviation from the reference default.
    normalise_on_generate: bool = False
    # URL-seen bloom pre-filter in the cycle (north rule): per-host-bucket
    # bloom shards (functions.hashing.build_bloom_sharded).  additions-off
    # drops definitely-new link targets BEFORE the updatedb shuffle;
    # additions-on sends them down the direct new-row path instead
    use_url_seen: bool = False
    # broadcast the fetchlist-sized small sides (generate selection,
    # updatedb delta, dedup phash) so the frontier never shuffles full
    # rows — use when topN/fetchlist fits a broadcast; with an Iceberg
    # url-bucketed frontier the same plans are storage-partitioned joins
    # and this knob is unnecessary
    broadcast_small_sides: bool = False
    generate_update_crawldb: bool = False  # generate.update.crawldb (_ngt_ stamps)

    # --- fetcher politeness (conf/nutch-default.xml:1028-1096) ---
    server_delay_ms: int = 5000           # fetcher.server.delay (5.0 s)
    min_crawl_delay_ms: int = 0           # fetcher.server.min.delay
    threads_per_queue: int = 1            # fetcher.threads.per.queue
    max_crawl_delay_ms: int = 30_000      # fetcher.max.crawl.delay (30 s)
    queue_mode: str = "byHost"            # fetcher.queue.mode
    time_limit_ms: int = 180 * 60 * 1000  # fetcher.timelimit.mins (180)
    max_exceptions_per_queue: int = -1    # fetcher.max.exceptions.per.queue
    robots_403_allow: bool = True         # http.robots.403.allow
    redirect_max: int = 0                 # http.redirect.max (0 = emit linked)
    content_limit: int = 1 << 20          # http.content.limit (1 MB)
    # store.ip.address (net/protocols/Response.java:40-42): record the
    # server's IP in the fetch metadata under ``_ip_`` — consumed by the
    # WARC exporter (WARC-IP-Address) and index-geoip.  The synthetic
    # protocol backend has no socket peer, so the default IP is a
    # deterministic per-host fake (fetch.server_ip_expr); pass
    # ``ip_expr=`` to :func:`operators.fetch.fetch` to inject real
    # resolver output.
    store_ip_address: bool = False

    # --- fetch schedule (crawl/AbstractFetchSchedule, AdaptiveFetchSchedule) ---
    schedule: str = "default"             # default | adaptive
    retry_max: int = 3                    # db.fetch.retry.max
    adaptive_inc_rate: float = 0.4        # db.fetch.schedule.adaptive.inc_rate
    adaptive_dec_rate: float = 0.2        # db.fetch.schedule.adaptive.dec_rate
    adaptive_min_interval_s: int = 60     # .adaptive.min_interval
    adaptive_max_interval_s: int = 365 * 86400  # .adaptive.max_interval
    adaptive_sync_delta: bool = True      # .adaptive.sync_delta
    adaptive_sync_delta_rate: float = 0.3
    # MimeAdaptiveFetchSchedule (T3): per-format (inc, dec) overrides keyed
    # by the parse metadata 'img.fmt' (the reference keys by MIME type from
    # conf/adaptive-mimetypes.txt; crawl/MimeAdaptiveFetchSchedule.java)
    mime_rates: tuple[tuple[str, float, float], ...] = ()

    # --- updatedb (crawl/CrawlDbReducer, CrawlDbFilter) ---
    max_inlinks: int = 10_000             # db.update.max.inlinks
    additions_allowed: bool = True        # db.update.additions.allowed
    purge_404: bool = False               # db.update.purge.404
    purge_orphan: bool = False            # db.update.purge.orphan (fork)
    purge_withdrawn: bool = False         # purge db_withdrawn rows (fork)
    score_internal: float = 1.0           # db.score.link.internal
    score_external: float = 1.0           # db.score.link.external
    score_count_filtered: bool = False    # db.score.count.filtered
    # outlink policy at parse time (ParseOutputFormat.java:283-311):
    # drop external/internal outlinks inside the extract loop, BEFORE the
    # accepted-count cap and the OPIC divisor; external drops can be
    # exempted per-url via an ExemptionURLFilter (urlfilter-ignoreexempt)
    ignore_external_links: bool = False   # db.ignore.external.links
    ignore_internal_links: bool = False   # db.ignore.internal.links

    # --- hostdb cadence (ref src/bin/crawl:407-410 runs updatehostdb
    # optionally / on a flag; a per-cycle full-frontier aggregate is the
    # one O(frontier) step the bucketed cost model can't absorb) ---
    # update hostdb on cycles where cycle_id % hostdb_every == 0; 0 = never.
    # In bucketed mode the update aggregates only buckets touched since the
    # last hostdb commit and coalesce-merges into the previous hostdb —
    # exact, because a host lives entirely inside one host-hash bucket.
    hostdb_every: int = 1

    # --- linkdb ---
    linkdb_max_inlinks: int = 10_000      # linkdb.max.inlinks
    linkdb_max_anchor_length: int = 100   # linkdb.max.anchor.length
    linkdb_ignore_internal_links: bool = True   # linkdb.ignore.internal.links
    linkdb_ignore_external_links: bool = False

    # --- dedup (crawl/DeduplicationJob) ---
    dedup_group_mode: str = "none"        # dedup.group.mode (none|host|domain)
    dedup_compare_order: tuple[str, ...] = ("score", "fetchTime", "urlLength")
    # cross-cycle whole-db phash dedup (ref src/bin/crawl:421-422 runs
    # DeduplicationJob over the whole crawldb each iteration): dedup on the
    # metadata-recorded img.phash so duplicates fetched in DIFFERENT cycles
    # are marked, not just within one cycle's content frame.  In bucketed
    # mode this runs at the compaction cadence (the only cycles that see
    # the full frontier) — the 10^10 cost model's equivalent of the
    # reference's whole-db pass.
    dedup_phash_meta: bool = False

    # --- partitioning / determinism ---
    seed: int = 42                        # per-run partition seed (Generator.java:1017)
    host_buckets: int = 64                # salted host-bucket count for fetch groups

    def with_(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)


DEFAULT = CrawlConfig()
