"""End-to-end crawl-loop tests: inject → generate → fetch → parse →
updatedb over the synthetic web, plus mid-cycle resume (SURVEY.md §5.2 #9)
and snapshot time travel."""

from __future__ import annotations

import pandas as pd
import pytest

from coherencebot_spark.config import DEFAULT
from coherencebot_spark.operators.fetch import fetch
from coherencebot_spark.operators.generate import generate
from coherencebot_spark.plans.cycle import CrawlDriver
from coherencebot_spark.schemas import SEEDS
from coherencebot_spark.status import Db
from coherencebot_spark.synth import world

T0 = world.T0
CFG = DEFAULT.with_(topn=200, num_partitions=2, server_delay_ms=100,
                    time_limit_ms=3_600_000)
FETCH_KW = dict(n_images=200, n_hosts=20)


def seeds_df(spark, n=40, hosts=10):
    return spark.createDataFrame(world.gen_seed_lines(n, hosts), schema=SEEDS)


def test_two_cycles_end_to_end(spark, tmp_path):
    d = CrawlDriver(spark, str(tmp_path / "crawl"), CFG, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    f0 = d.frontier.read(spark)
    n_seeds = f0.count()
    assert n_seeds > 0
    assert {r.status for r in f0.collect()} == {Db.UNFETCHED}

    m1 = d.run_cycle(0, T0 + 1000)
    assert m1.generated > 0 and m1.fetched > 0
    f1 = d.frontier.read(spark)
    stats1 = {r["status"]: r["count"]
              for r in f1.groupBy("status").count().collect()}
    assert stats1.get(Db.FETCHED, 0) > 0
    # outlink discovery grew the frontier
    assert m1.frontier_size > n_seeds

    m2 = d.run_cycle(1, T0 + 7_200_000)
    assert m2.frontier_size >= m1.frontier_size
    # lineage recorded per partition
    hist = d.frontier.snapshot_for_cycle(1)
    assert hist["metrics"]["fetched"] == m2.fetched
    assert hist["lineage"]

    # linkdb + hostdb got built
    assert d.linkdb.read(spark).count() > 0
    hdb = d.hostdb.read(spark)
    assert hdb.filter("fetched > 0").count() > 0

    # re-running a committed cycle is a no-op (idempotent resume)
    m1b = d.run_cycle(0, T0 + 1000)
    assert m1b.frontier_size == 0 or m1b.frontier_size == m1.frontier_size


def test_mid_cycle_resume_matches_uninterrupted(spark, tmp_path):
    # driver A: run cycle 0 fully
    a = CrawlDriver(spark, str(tmp_path / "a"), CFG, **FETCH_KW)
    a.inject(seeds_df(spark), T0)
    a.run_cycle(0, T0 + 1000)
    fa = sorted(
        (r.url, r.status, r.fetch_time, r.retries, r.fetch_interval)
        for r in a.frontier.read(spark).collect()
    )

    # driver B: same inject; simulate a crash after the segment commit
    # (fetch_log + content written, frontier update lost), then resume
    b = CrawlDriver(spark, str(tmp_path / "b"), CFG, **FETCH_KW)
    b.inject(seeds_df(spark), T0)
    frontier = b.frontier.read(spark)
    fl = generate(frontier, T0 + 1000, CFG)
    log, content = fetch(fl, T0 + 1000, CFG, **FETCH_KW)
    b.fetch_log.write(log, cycle_id=0)
    b.content.write(content, cycle_id=0)
    # --- crash here; resume: ---
    b.run_cycle(0, T0 + 1000)
    fb = sorted(
        (r.url, r.status, r.fetch_time, r.retries, r.fetch_interval)
        for r in b.frontier.read(spark).collect()
    )
    assert fa == fb


def test_snapshot_time_travel_and_stop(spark, tmp_path):
    d = CrawlDriver(spark, str(tmp_path / "c"), CFG, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    s0 = d.frontier.current_id()
    d.run_cycle(0, T0 + 1000)
    s1 = d.frontier.current_id()
    assert s1 > s0
    n_after = d.frontier.read(spark).count()
    d.frontier.rollback(s0)
    assert d.frontier.read(spark).count() <= n_after
    d.frontier.rollback(s1)
    # .STOP file halts the loop
    (tmp_path / "c" / ".STOP").write_text("")
    out = d.run(5, T0)
    assert out == []


def test_url_seen_filter_cycle_identity(spark, tmp_path):
    """additions-off + URL-seen bloom pre-filter yields the IDENTICAL
    frontier to the unfiltered plan (false positives safe, definite-new
    rows were doomed anyway), and the shard table persists for reuse."""
    import os

    cfg = CFG.with_(additions_allowed=False)
    base = CrawlDriver(spark, str(tmp_path / "base"), cfg, **FETCH_KW)
    seen = CrawlDriver(spark, str(tmp_path / "seen"),
                       cfg.with_(use_url_seen=True), **FETCH_KW)
    for d in (base, seen):
        d.inject(seeds_df(spark), T0)
        d.run_cycle(0, T0 + 1000)

    def snap(d):
        return sorted(
            (r.url, r.status, r.fetch_time, r.retries, float(r.score))
            for r in d.frontier.read(spark).collect()
        )

    assert snap(base) == snap(seen)
    assert os.path.exists(str(tmp_path / "seen" / "url_seen_blooms"))


def test_url_seen_additions_on_cycle_identity(spark, tmp_path, monkeypatch):
    """additions-ON + URL-seen: definitely-new links take the direct
    new-row path, shards are refreshed per cycle from the committed
    frontier — across multiple cycles the frontier is IDENTICAL to the
    unfiltered plan (a stale shard would double-insert existing urls;
    a false drop would lose links — both diverge here).  The last case
    sets the broadcast size gate to 0, so the driver probes through the
    bucket cogroup instead of the broadcast."""
    import os

    from coherencebot_spark.plans import cycle as cycle_mod

    def snap(d):
        return sorted(
            (r.url, r.status, r.fetch_time, r.retries, float(r.score))
            for r in d.frontier.read(spark).collect()
        )

    cogroup_calls = []
    cogroup = cycle_mod.bloom_contains_sharded

    def counting_cogroup(*a, **kw):
        cogroup_calls.append(1)
        return cogroup(*a, **kw)

    monkeypatch.setattr(cycle_mod, "bloom_contains_sharded", counting_cogroup)
    for bucketed, gate in ((False, None), (True, None), (True, 0)):
        if gate is not None:
            monkeypatch.setattr(cycle_mod, "URL_SEEN_BROADCAST_MAX_BYTES",
                                gate)
        sub = tmp_path / f"b{int(bucketed)}-{gate}"
        base = CrawlDriver(spark, str(sub / "base"), CFG,
                           bucketed=bucketed, **FETCH_KW)
        seen = CrawlDriver(spark, str(sub / "seen"),
                           CFG.with_(use_url_seen=True),
                           bucketed=bucketed, **FETCH_KW)
        for d in (base, seen):
            d.inject(seeds_df(spark), T0)
        for k in range(2):
            t = T0 + 1000 + k * 3_600_000
            base.run_cycle(k, t)
            seen.run_cycle(k, t)
            assert snap(base) == snap(seen), \
                f"bucketed={bucketed} gate={gate} cycle {k}"
        assert os.path.exists(str(sub / "seen" / "url_seen_blooms"))
        # the default gate broadcasts; gate 0 takes the cogroup every cycle
        assert len(cogroup_calls) == (0 if gate is None else 2)


def test_free_generate(spark):
    """FreeGenerator: fetchlist straight from a URL list — normalized,
    deduped, FETCHLIST-shaped, reference partitioning."""
    from coherencebot_spark.operators.generate import free_generate
    from coherencebot_spark.schemas import FETCHLIST

    urls = spark.createDataFrame(
        [("HTTP://Example.ORG/a",), ("http://example.org/a",),  # dup after norm
         ("http://example.org:80/b",), ("not a url",)],
        "url string",
    )
    fl = free_generate(urls, CFG, cur_time=T0)
    rows = {r.url: r for r in fl.collect()}
    assert set(rows) == {"http://example.org/a", "http://example.org/b"}
    assert [f.name for f in fl.schema.fields] == [f.name for f in FETCHLIST.fields]
    r = rows["http://example.org/a"]
    assert r.status == 1 and r.fetch_time == T0 and r.segnum == 1
    assert r.score == pytest.approx(CFG.score_injected)


def test_segment_reader_tools(spark, tmp_path):
    """readseg -list/-get/-dump analogues over a real cycle's segment."""
    import glob

    from coherencebot_spark.operators.readseg import (
        segment_dump, segment_get, segment_list,
    )

    d = CrawlDriver(spark, str(tmp_path / "c"), CFG, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    d.run_cycle(0, T0 + 1000)
    log = d.fetch_log.read(spark)
    ct = d.content.read(spark)

    st = segment_list(log).collect()[0]
    assert st.generated > 0 and st.fetched > 0
    assert st.earliest_fetch <= st.latest_fetch

    url = ct.select("url").first()[0]
    got = segment_get(log, ct, url)
    assert got["crawl_fetch"] and got["content"]
    assert got["content"][0]["url"] == url

    out = str(tmp_path / "dump")
    segment_dump(log, ct, out)
    text = "".join(open(f).read() for f in glob.glob(out + "/part-*"))
    assert "CrawlDatum:: status=" in text and "Content:: fmt=" in text
    assert url in text


def test_url_seen_crash_after_commit_stays_fresh(spark, tmp_path):
    """Crash AFTER the frontier commit (before ancillary steps), then
    resume: the committed-cycle resume is an early-return no-op, so the
    URL-seen shards must already be fresh — they refresh BEFORE the
    commit.  With the old after-commit ordering this scenario left a
    stale shard and cycle 1 double-inserted every url added in cycle 0."""

    def snap(d):
        return sorted(
            (r.url, r.status, r.fetch_time, r.retries, float(r.score))
            for r in d.frontier.read(spark).collect()
        )

    base = CrawlDriver(spark, str(tmp_path / "base"), CFG, **FETCH_KW)
    seen = CrawlDriver(spark, str(tmp_path / "seen"),
                       CFG.with_(use_url_seen=True), **FETCH_KW)
    for d in (base, seen):
        d.inject(seeds_df(spark), T0)

    base.run_cycle(0, T0 + 1000)

    # crash the seen driver right after the frontier snapshot commit
    orig = seen._update_linkdb
    def boom(*a, **k):
        raise RuntimeError("crash before ancillary steps")
    seen._update_linkdb = boom
    with pytest.raises(RuntimeError, match="crash"):
        seen.run_cycle(0, T0 + 1000)
    assert seen.frontier.snapshot_for_cycle(0) is not None  # commit landed
    seen._update_linkdb = orig

    # resume (early-return no-op), then the NEXT cycle must still match
    m = seen.run_cycle(0, T0 + 1000)
    assert m.generated == 0
    base.run_cycle(1, T0 + 3_601_000)
    seen.run_cycle(1, T0 + 3_601_000)
    assert snap(base) == snap(seen)


def test_cross_cycle_phash_dedup(spark, tmp_path):
    # dedup_phash_meta: an image served under DIFFERENT urls in DIFFERENT
    # cycles is caught by the whole-db pass over the metadata-recorded
    # phash (ref src/bin/crawl:421-422 runs DeduplicationJob per iteration)
    from pyspark.sql import functions as F

    from coherencebot_spark.status import Fetch

    cfg = CFG.with_(dedup_phash_meta=True)
    # tiny image universe → cross-cycle url pairs sharing one image
    d = CrawlDriver(spark, str(tmp_path / "crawl"), cfg, n_images=8, n_hosts=20)
    d.inject(seeds_df(spark), T0)
    d.run_cycle(0, T0 + 1000)
    log1 = d.fetch_log.read(spark, d.fetch_log.snapshot_for_cycle(0)["id"])
    c1 = {r.url for r in log1.filter(
        F.col("status") == int(Fetch.SUCCESS)).select("url").collect()}
    d.run_cycle(1, T0 + 7_200_000)
    log2 = d.fetch_log.read(spark, d.fetch_log.snapshot_for_cycle(1)["id"])
    c2 = {r.url for r in log2.filter(
        F.col("status") == int(Fetch.SUCCESS)).select("url").collect()} - c1

    assert c1 and c2
    rows = (
        d.frontier.read(spark)
        .select("url", "status",
                F.col("metadata").getItem("img.phash").alias("ph"))
        .filter(F.col("ph").isNotNull())
        .collect()
    )
    groups: dict = {}
    for r in rows:
        groups.setdefault(r.ph, []).append(r)
    # keep-best invariant: at most one live row per phash, whole-db
    for rs in groups.values():
        live = [r for r in rs if r.status in (Db.FETCHED, Db.NOTMODIFIED)]
        assert len(live) <= 1
    # and some group is deduped ACROSS cycles: keeper fetched in one
    # cycle, a duplicate fetched in the other
    crossed = False
    for rs in groups.values():
        urls = {r.url for r in rs}
        if not (urls & c1 and urls & c2):
            continue
        live = [r for r in rs if r.status in (Db.FETCHED, Db.NOTMODIFIED)]
        dups = [r for r in rs if r.status == Db.DUPLICATE]
        if live and dups:
            keeper_cycle = live[0].url in c1
            if any((r.url in c1) != keeper_cycle for r in dups):
                crossed = True
    assert crossed


def test_feed_inject_cadence_in_loop(spark, tmp_path):
    # VERDICT r3 #8: the --feed loop — an injectable HTTP collection-API
    # seed source feeds the injector before each cycle (deploy/README --feed)
    import json as _json

    from coherencebot_spark.sources.seeds import FeedInjector

    calls = []

    def http_get(url, api_key):
        calls.append(url)
        # second pull serves a NEW seed mid-run
        items = [{"url": "https://h1.example.org/seed/0", "collection": "c1"}]
        if len(calls) > 1:
            items.append({"url": "https://h7.example.org/seed/99",
                          "collection": "c2"})
        return _json.dumps(items)

    feed = FeedInjector("http://api.example/collections", http_get=http_get)
    d = CrawlDriver(spark, str(tmp_path / "crawl"), CFG, **FETCH_KW)
    ms = d.run(2, T0, feed=feed, feed_every=1)
    assert len(ms) == 2 and len(calls) == 2
    f = d.frontier.read(spark)
    urls = {r.url for r in f.select("url").collect()}
    assert "https://h1.example.org/seed/0" in urls
    # the mid-run seed arrived before cycle 2 and is in the frontier
    assert "https://h7.example.org/seed/99" in urls
    got = f.filter("url = 'https://h7.example.org/seed/99'").collect()[0]
    assert got.metadata.get("collection.seed") == "https://h7.example.org/seed/99"

    # a feed outage must not kill the loop
    def broken(url, api_key):
        raise RuntimeError("api down")

    ms2 = d.run(1, T0, feed=FeedInjector("http://api", http_get=broken))
    assert len(ms2) == 1


def test_frontier_write_one_file_per_bucket(spark, tmp_path):
    # write-side hash distribution (Iceberg write.distribution-mode=hash
    # analogue): each bucket's rows land in one task → exactly one parquet
    # file per bucket dir, instead of one per (task × bucket) — the
    # small-file explosion that compounds at 10^10 × 1000 executors
    import glob
    import os

    d = CrawlDriver(spark, str(tmp_path / "c"), CFG, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    m = d.frontier._load()
    ddir = os.path.join(d.frontier.path, "snapshots", m["snapshots"][-1]["dir"])
    bdirs = glob.glob(os.path.join(ddir, "bucket=*"))
    assert bdirs
    for bdir in bdirs:
        files = glob.glob(os.path.join(bdir, "*.parquet"))
        assert len(files) == 1, bdir


def test_driver_dns_resolver_in_loop(spark, tmp_path):
    # the ResolverThread analogue wired through the driver: per-host DNS
    # probe failures accumulate in hostdb across cycles
    import pandas as pd

    def resolver(hosts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({
            "host": hosts,
            "dns_failed": [1] * len(hosts),
            "cnx_failed": [0] * len(hosts),
        })

    d = CrawlDriver(spark, str(tmp_path / "c"), CFG, dns_resolver=resolver,
                    **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    d.run_cycle(0, T0 + 1000)
    h1 = {r.host: r.dns_failures for r in d.hostdb.read(spark).collect()}
    assert h1 and all(v == 1 for v in h1.values())
    d.run_cycle(1, T0 + 7_200_000)
    h2 = {r.host: r.dns_failures for r in d.hostdb.read(spark).collect()}
    # hosts present in both cycles accumulated a second failure
    assert any(h2[k] == 2 for k in h1 if k in h2)


def test_fetch_executes_exactly_once_per_cycle(spark, tmp_path):
    """The segment commit writes fetch_log and content as two jobs; the
    cached internal log must make them share ONE fetch execution — a
    second execution would re-fetch every url (and could diverge on
    nondeterministic outcomes).  The backend marks each url on first
    contact and answers GONE on any repeat, so a double-execution shows
    up as GONE rows / missing content."""
    import hashlib
    import os as _os

    import numpy as np
    import pandas as pd

    from coherencebot_spark.status import Fetch, Proto

    marks = str(tmp_path / "marks")
    _os.makedirs(marks, exist_ok=True)

    def once_backend(urls: pd.Series) -> pd.DataFrame:
        st, idx = [], []
        for u in urls:
            p = _os.path.join(marks, hashlib.md5(u.encode()).hexdigest())
            if _os.path.exists(p):
                st.append(int(Proto.NOTFOUND))
                idx.append(-1)
            else:
                open(p, "w").close()
                st.append(int(Proto.SUCCESS))
                idx.append(abs(hash(u)) % 50)
        return pd.DataFrame({
            "proto_status": np.array(st, dtype=np.int32),
            "redirect_to": [None] * len(urls),
            "image_idx": np.array(idx, dtype=np.int64),
        }, index=urls.index)

    d = CrawlDriver(spark, str(tmp_path / "crawl"), CFG,
                    backend=once_backend, n_hosts=20)
    d.inject(seeds_df(spark), T0)
    m = d.run_cycle(0, T0 + 1000)
    log = d.fetch_log.read(spark)
    statuses = {r["status"] for r in log.select("status").distinct().collect()}
    assert statuses == {int(Fetch.SUCCESS)}, statuses
    # and the content snapshot covers every success row (same execution)
    assert d.content.read(spark).count() == m.fetched


def test_torn_segment_is_refetched(spark, tmp_path):
    # crash between fetch_log.write and content.write: the cycle restarts
    # from scratch (the reference re-runs an incomplete segment) instead
    # of dying on the missing content snapshot
    d = CrawlDriver(spark, str(tmp_path / "crawl"), CFG, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    # simulate the torn state: a fetch_log snapshot exists, content none
    frontier = d.frontier.read(spark).drop("bucket")
    from coherencebot_spark.operators.fetch import fetch as _fetch
    from coherencebot_spark.operators.generate import generate as _gen

    fl = _gen(frontier, T0 + 1000, CFG)
    log, _content = _fetch(fl, T0 + 1000, CFG, **FETCH_KW)
    d.fetch_log.write(log, cycle_id=0)  # content write "crashed"
    m = d.run_cycle(0, T0 + 1000)
    assert m.fetched > 0
    assert d.content.snapshot_for_cycle(0) is not None
    assert d.frontier.snapshot_for_cycle(0) is not None


def test_crash_before_linkdb_is_completed_on_resume(spark, tmp_path):
    # crash AFTER the frontier commit but before the linkdb update: the
    # committed-cycle resume path must complete the ancillary tables
    # instead of silently losing the cycle's inlinks
    d = CrawlDriver(spark, str(tmp_path / "crawl"), CFG, **FETCH_KW)
    d.inject(seeds_df(spark), T0)

    class Boom(RuntimeError):
        pass

    orig = d._update_linkdb
    def crash(*a, **k):
        raise Boom("crash before linkdb")
    d._update_linkdb = crash
    try:
        d.run_cycle(0, T0 + 1000)
    except Boom:
        pass
    assert d.frontier.snapshot_for_cycle(0) is not None
    assert d.linkdb.snapshot_for_cycle(0) is None
    d._update_linkdb = orig
    m = d.run_cycle(0, T0 + 1000)  # resume no-op + ancillary completion
    assert d.linkdb.snapshot_for_cycle(0) is not None
    assert d.linkdb.read(spark).count() > 0
    assert d.hostdb.read(spark).count() > 0


def test_new_links_metric_with_seen_filter_additions_off(spark, tmp_path):
    # the discovery metric must count ALL discovered links, not the
    # post-bloom residue (additions-OFF drops definitely-new rows before
    # updatedb, which is correct for the merge but not for the metric)
    cfg = CFG.with_(additions_allowed=False)
    a = CrawlDriver(spark, str(tmp_path / "a"), cfg, **FETCH_KW)
    b = CrawlDriver(spark, str(tmp_path / "b"),
                    cfg.with_(use_url_seen=True), **FETCH_KW)
    for d in (a, b):
        d.inject(seeds_df(spark), T0)
    ma = a.run_cycle(0, T0 + 1000)
    mb = b.run_cycle(0, T0 + 1000)
    assert ma.new_links > 0
    assert mb.new_links == ma.new_links


def test_normalize_frontier_migration(spark):
    # operators.migrate: after a normalizer-rule change, rewrite frontier
    # KEYS once — collisions keep the best row by the merge order
    from coherencebot_spark.operators.migrate import normalize_frontier
    from coherencebot_spark.schemas import FRONTIER

    rows = [
        dict(url="HTTP://A.Example.org:80/x", host="a.example.org", status=1,
             fetch_time=T0 - 5, retries=0, fetch_interval=100, score=1.0,
             signature=None, modified_time=0, metadata=None),
        dict(url="http://a.example.org/x", host="a.example.org", status=2,
             fetch_time=T0 - 1, retries=0, fetch_interval=100, score=2.0,
             signature=None, modified_time=0, metadata=None),
        dict(url="http://b.example.org/ok", host="b.example.org", status=1,
             fetch_time=T0, retries=0, fetch_interval=100, score=1.0,
             signature=None, modified_time=0, metadata=None),
    ]
    out = normalize_frontier(spark.createDataFrame(rows, FRONTIER)).collect()
    by_url = {r.url: r for r in out}
    # the two variants collided onto the canonical key; latest fetch won
    assert set(by_url) == {"http://a.example.org/x", "http://b.example.org/ok"}
    assert by_url["http://a.example.org/x"].status == 2


def test_compaction_cadence_counts_cycles_not_snapshots(spark, tmp_path):
    # inject@/feed snapshots must not drift the full-rewrite-every-N
    # contract: with a feed injecting before every cycle (2 snapshots per
    # cycle), a full_rewrite_every=2 driver still merges cycle 0 and
    # compacts cycle 1
    import json as _json

    from coherencebot_spark.sources.seeds import FeedInjector

    def http_get(url, api_key):
        return _json.dumps([{"url": "https://h1.example.org/seed/0"}])

    d = CrawlDriver(spark, str(tmp_path / "c"), CFG, bucketed=True,
                    full_rewrite_every=2, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    d.run(2, T0 + 1000, feed=FeedInjector("http://api", http_get=http_get))
    kinds = {s["cycle_id"]: ("merge" if s.get("merge") else "full")
             for s in d.frontier.history() if isinstance(s["cycle_id"], int)}
    assert kinds == {0: "merge", 1: "full"}, kinds


def test_index_and_analyze_steps(spark, tmp_path):
    # --index/--analyze (ref src/bin/crawl:424-481): per-cycle segment
    # indexing through the IndexingFilter chain into the _bulk NDJSON
    # sink (adds + -deleteGone delete actions), plus the analysis dumps
    import os

    from coherencebot_spark.sources.sinks import read_elastic_bulk

    wd = str(tmp_path / "crawl")
    d = CrawlDriver(spark, wd, CFG, index_sink="bulk", analyze=True,
                    **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    d.run(2, T0 + 1000, cycle_ms=7_200_000)

    for k in (0, 1):
        recs = read_elastic_bulk(os.path.join(wd, "index", f"cycle-{k}"))
        assert recs, f"cycle {k} wrote no index actions"
        adds = [doc for _, doc in recs if doc is not None]
        # chain ran: index-basic fields on every add doc, tstamp is the
        # segment's actual fetch instant (this cycle's clock)
        start = T0 + 1000 + k * 7_200_000
        for doc in adds:
            assert doc["host"] and doc["domain"] and doc["doc_url"]
            # to_json drops null fields → a null caption has no key
            assert doc["text"] == (doc.get("caption") or "")
            # the segment's actual fetch instant: cycle start + the
            # politeness clock's per-host offset, within this cycle
            assert start <= doc["tstamp"] < start + 7_200_000
        # analysis payloads exist per cycle
        assert os.path.isdir(os.path.join(wd, "analysis", f"cycle-{k}",
                                          "readseg"))
        assert os.path.isdir(os.path.join(wd, "analysis", f"cycle-{k}",
                                          "crawlcomplete"))

    # the synthetic world 404s some urls → cycle 1 must carry deletions
    # for gone/duplicate docs (-deleteGone)
    recs1 = read_elastic_bulk(os.path.join(wd, "index", "cycle-1"))
    del_ids = [i for i, doc in recs1 if doc is None]
    assert del_ids, "no delete actions despite gone/duplicate rows"

    # idempotent: re-running the committed cycle leaves the output as-is
    before = sorted(os.listdir(os.path.join(wd, "index", "cycle-1")))
    d.run_cycle(1, T0 + 1000 + 7_200_000)
    assert sorted(os.listdir(os.path.join(wd, "index", "cycle-1"))) == before


def test_index_backfill_matches_in_cycle_artifact(spark, tmp_path):
    """Catch-up --index after the fact must equal the in-cycle artifact:
    the doc build reads the frontier/linkdb at THAT cycle's snapshot (a
    url GONE by cycle 1 is not a delete in cycle 0's output), and a stale
    torn-write ``.tmp`` from a crash is cleared and re-run whole."""
    import os

    from coherencebot_spark.sources.sinks import read_elastic_bulk

    wd_live = str(tmp_path / "live")
    d1 = CrawlDriver(spark, wd_live, CFG, index_sink="bulk", **FETCH_KW)
    d1.inject(seeds_df(spark), T0)
    d1.run(2, T0 + 1000, cycle_ms=7_200_000)

    wd_back = str(tmp_path / "back")
    d2 = CrawlDriver(spark, wd_back, CFG, **FETCH_KW)  # indexing off
    d2.inject(seeds_df(spark), T0)
    d2.run(2, T0 + 1000, cycle_ms=7_200_000)

    # enable indexing afterwards; plant a stale torn-write tmp dir
    d3 = CrawlDriver(spark, wd_back, CFG, index_sink="bulk", **FETCH_KW)
    tmp0 = os.path.join(wd_back, "index", "cycle-0.tmp")
    os.makedirs(tmp0)
    with open(os.path.join(tmp0, "junk"), "w") as f:
        f.write("torn")
    for k in (0, 1):
        d3.run_cycle(k, T0 + 1000 + k * 7_200_000)
    assert not os.path.exists(tmp0)
    for k in (0, 1):
        live = sorted(map(repr, read_elastic_bulk(
            os.path.join(wd_live, "index", f"cycle-{k}"))))
        back = sorted(map(repr, read_elastic_bulk(
            os.path.join(wd_back, "index", f"cycle-{k}"))))
        assert live and live == back, f"cycle {k} backfill diverges"


def _first_join_ancestor(plan: str, scan_needle: str) -> str:
    """Walk the executed-plan tree text upward from the scan line and
    return the first ancestor that is a join or an exchange."""
    import re

    lines = plan.splitlines()
    idx = next(i for i, l in enumerate(lines) if scan_needle in l
               and "Scan" in l)
    depth = lambda l: len(re.match(r"[\s:+\->]*", l).group(0))  # noqa: E731
    d = depth(lines[idx])
    for line in reversed(lines[:idx]):
        dl = depth(line)
        if dl < d:
            d = dl
            node = re.sub(r"^[\s:+\->]*", "", line)
            if node.startswith(("Exchange", "BroadcastHashJoin",
                                "SortMergeJoin", "ShuffledHashJoin")):
                return node
    return ""


def test_segment_index_docs_plan(spark):
    # the --index doc build must restrict the frontier to the segment via
    # a map-side broadcast inner join BEFORE any left join, and prune the
    # linkdb with a broadcast semi-join — neither big table may hit an
    # Exchange (a full-table shuffle per cycle at 10^10 rows otherwise)
    from pyspark.sql import Row

    from coherencebot_spark.sources.sinks import build_segment_index_documents

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        frontier = spark.createDataFrame(
            [Row(url=f"u{i}", status=33, score=1.0, metadata={"a": "b"})
             for i in range(50)])
        content = spark.createDataFrame(
            [Row(url=f"u{i}", image_id=f"i{i}", w=1, h=1, fmt="png",
                 caption="c", phash=1) for i in range(10)])
        seg = spark.createDataFrame(
            [Row(url=f"u{i}", _seg_ms=5) for i in range(10)])
        linkdb = spark.createDataFrame(
            [Row(url=f"u{i}", inlinks=[Row(anchor="a")]) for i in range(10)])
        docs = build_segment_index_documents(frontier, content, seg, linkdb,
                                             broadcast_seg=True)
        plan = docs._jdf.queryExecution().executedPlan().toString()
        fr = _first_join_ancestor(plan, "status")
        assert fr.startswith("BroadcastHashJoin") and "Inner" in fr, \
            f"frontier shuffles before the segment restriction:\n{plan}"
        ld = _first_join_ancestor(plan, "inlinks")
        assert ld.startswith("BroadcastHashJoin") and "LeftSemi" in ld, \
            f"linkdb shuffles before the segment prune:\n{plan}"
        # values unchanged vs the naive order
        assert docs.count() == 10
        assert docs.filter("image_id is null").count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_outlinks_extracted_once_per_page(spark, tmp_path, monkeypatch):
    """Each fetched page's outlinks are extracted once per cycle: the
    parse output and the URL-seen probe result are materialized once, so
    the probe, updatedb, the new-link count and linkdb never re-run the
    pandas extract stage.  The extractor marks every page url it sees on
    a marker file and records any repeat."""
    import hashlib
    import os as _os

    marks, repeats = tmp_path / "marks", tmp_path / "repeats"
    marks.mkdir()
    repeats.mkdir()
    marks, repeats = str(marks), str(repeats)
    orig = world.outlinks_for

    def marking(urls, *a, **kw):
        for u in urls:
            name = hashlib.md5(u.encode()).hexdigest()
            if _os.path.exists(_os.path.join(marks, name)):
                open(_os.path.join(repeats, name), "w").close()
            else:
                open(_os.path.join(marks, name), "w").close()
        return orig(urls, *a, **kw)

    monkeypatch.setattr(world, "outlinks_for", marking)
    d = CrawlDriver(spark, str(tmp_path / "crawl"),
                    CFG.with_(use_url_seen=True, additions_allowed=True),
                    bucketed=True, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    m = d.run_cycle(0, T0 + 1000)
    assert d.frontier.history()[-1].get("merge") is not None
    assert m.fetched > 0 and len(_os.listdir(marks)) == m.fetched
    assert not _os.listdir(repeats), \
        f"{len(_os.listdir(repeats))} pages had their outlinks extracted twice"


def test_cycle_frees_what_it_materializes(spark, tmp_path, monkeypatch):
    """Every checkpoint and cache a cycle makes is released by its end:
    after each of three bucketed URL-seen cycles Spark's storage holds no
    more RDDs than after the first, and that one holds at most the live
    URL-seen shard frame (a shard refresh must free the old one).  The
    test keeps a reference to every frame the cycle checkpoints or
    persists, so only the cycle itself, not a garbage collection, can
    free their blocks."""
    from pyspark.sql import DataFrame

    kept: list = []
    for name in ("localCheckpoint", "persist"):
        orig = getattr(DataFrame, name)

        def keeping(self, *a, _orig=orig, **kw):
            out = _orig(self, *a, **kw)
            kept.append(out)
            return out

        monkeypatch.setattr(DataFrame, name, keeping)

    def held() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    d = CrawlDriver(spark, str(tmp_path / "crawl"),
                    CFG.with_(use_url_seen=True), bucketed=True, **FETCH_KW)
    d.inject(seeds_df(spark), T0)
    base = held()
    after = []
    for k in range(3):
        d.run_cycle(k, T0 + 1000 + k * 3_600_000)
        after.append(held())
    assert after[0] <= base + 1, (base, after)
    assert max(after) <= after[0], (base, after)


def _recount(spark, d, k: int, pre_urls: set) -> tuple[dict, set]:
    """The CycleMetrics counters of cycle ``k`` recomputed from its
    committed segment and frontier (``pre_urls``: the frontier's urls
    before the cycle), and the cycle's linked urls."""
    from pyspark.sql import functions as F

    from coherencebot_spark.operators.parse import parse, redirect_link_rows
    from coherencebot_spark.status import Fetch, Msg

    log = d.fetch_log.read(spark, d.fetch_log.snapshot_for_cycle(k)["id"])
    content = d.content.read(spark, d.content.snapshot_for_cycle(k)["id"])
    st = {r["status"]: r["count"]
          for r in log.groupBy("status").count().collect()}
    cache: list = []
    linked = {r.url for r in parse(log, content, d.cfg, cache=cache)
              .unionByName(redirect_link_rows(log))
              .filter(F.col("status") == int(Msg.LINKED))
              .select("url").collect()}
    for c in cache:
        c.unpersist()
    snap = d.frontier.snapshot_for_cycle(k)
    return dict(
        generated=sum(st.values()),
        fetched=st.get(int(Fetch.SUCCESS), 0),
        redirected=(st.get(int(Fetch.REDIR_TEMP), 0)
                    + st.get(int(Fetch.REDIR_PERM), 0)),
        gone=st.get(int(Fetch.GONE), 0),
        retry=st.get(int(Fetch.RETRY), 0),
        notmodified=st.get(int(Fetch.NOTMODIFIED), 0),
        new_links=len(linked - pre_urls),
        frontier_size=d.frontier.read(spark, snap["id"]).count(),
    ), linked


def test_cycle_metrics_match_independent_recounts(spark, tmp_path):
    """Every CycleMetrics counter of a merge cycle and of a full-rewrite
    cycle equals a count recomputed from the committed segment and
    frontier.  ``new_links`` is |linked| − |frontier rows ∩ linked|, so it
    relies on frontier urls being unique: a planted duplicate of a url
    the cycle links to makes its check fail by exactly that row."""
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    def run(sub: str, plant: str | None = None):
        d = CrawlDriver(spark, str(tmp_path / sub), CFG, bucketed=True,
                        full_rewrite_every=2, **FETCH_KW)
        d.inject(seeds_df(spark), T0)
        out = []
        for k in range(2):
            if k == 1 and plant is not None:
                # the linked url, twice, not due this cycle
                f = d.frontier.read(spark).drop("bucket")
                row = (f.limit(1)
                       .withColumn("url", F.lit(plant))
                       .withColumn("host", F.lit(urlsplit(plant).hostname))
                       .withColumn("fetch_time", F.lit(T0 * 2)))
                d._write_frontier(f.unionByName(row).unionByName(row),
                                  cycle_id="dup",
                                  metrics={"frontier_size": f.count() + 2})
            pre_urls = {r.url for r in
                        d.frontier.read(spark).select("url").collect()}
            m = d.run_cycle(k, T0 + 1000 + k * 3_600_000)
            want, linked = _recount(spark, d, k, pre_urls)
            out.append((m, want, linked, pre_urls))
        return d, out

    d, clean = run("clean")
    hist = [s for s in d.frontier.history() if isinstance(s["cycle_id"], int)]
    assert hist[0].get("merge") is not None and hist[1].get("merge") is None
    for m, want, _, _ in clean:
        assert {k: getattr(m, k) for k in want} == want, m.cycle_id
        assert m.generated > 0 and m.fetched > 0 and m.new_links > 0

    # plant a url that cycle 1 discovers, as two frontier rows
    _, _, linked1, pre1 = clean[1]
    plant = sorted(linked1 - pre1)[0]
    _, dup = run("dup", plant)
    m, want, linked, pre_urls = dup[1]
    assert plant in linked and plant in pre_urls
    got = {k: getattr(m, k) for k in want}
    assert got["new_links"] == want["new_links"] - 1, (got, want)
