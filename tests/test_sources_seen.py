"""Tests for seed sources, sinks, and the Bloom URL-seen pre-filter."""

from __future__ import annotations

import json

import pytest

from coherencebot_spark.schemas import FRONTIER
from coherencebot_spark.sources.seeds import FeedInjector, read_seed_files
from coherencebot_spark.sources.sinks import build_index_documents, write_csv
from coherencebot_spark.status import Db

T = 1_700_000_000_000


def frow(url, status=Db.FETCHED):
    return dict(url=url, host=url.split("/")[2], status=int(status),
                fetch_time=T, retries=0, fetch_interval=100, score=1.0,
                signature=None, modified_time=0, metadata=None)


def test_read_seed_files(spark, tmp_path):
    p = tmp_path / "seeds.txt"
    p.write_text("https://a.example.org/1\n# comment\nhttps://b.example.org/2\tk=v\n")
    df = read_seed_files(spark, str(p))
    assert df.columns == ["line"]
    assert df.count() == 3


def test_feed_injector_parses_feed(spark):
    feed = [{"url": "https://a.example.org/s", "collection": "c1"},
            {"nourl": True}]
    fi = FeedInjector("https://api/feed", "key",
                      http_get=lambda u, k: json.dumps(feed))
    out = fi.fetch_seeds(spark).collect()
    assert len(out) == 1
    assert out[0].line.startswith("https://a.example.org/s\t")
    assert "collection.seed=https://a.example.org/s" in out[0].line
    assert "collection=c1" in out[0].line
    with pytest.raises(NotImplementedError):
        FeedInjector("https://api/feed").fetch_seeds(spark)


def test_url_seen_filter(spark):
    """The broadcast and the cogroup probe give the same ``maybe_seen``
    flag for every row over host-aligned shards: zero false negatives on
    inserted URLs (a null-host row included — xxhash64(NULL) is a seed
    constant, so it maps to one shard on both sides), definitely-new
    URLs mostly dropped, and probes in a bucket without a shard read
    definitely-new."""
    from pyspark.sql import functions as F

    from coherencebot_spark.functions.hashing import (
        bloom_contains_broadcast, bloom_contains_sharded, build_bloom_sharded)

    n_buckets = 16
    hostb = F.pmod(F.xxhash64(F.col("host")), F.lit(n_buckets)).cast("int")
    # 10 hosts over 16 buckets: at least 6 buckets have no shard
    rows = [frow(f"https://h{i % 10}.example.org/p{i}") for i in range(800)]
    rows.append(dict(frow("https://nohost.example.org/seen"), host=None))
    frontier = spark.createDataFrame(rows, FRONTIER)
    shards = build_bloom_sharded(frontier, "url", capacity=800,
                                 n_buckets=n_buckets,
                                 bucket_expr=hostb).persist()
    have = {r.bucket for r in shards.select("bucket").collect()}
    assert len(have) > 4  # genuinely multi-bucket

    hosts = spark.createDataFrame(
        [(f"x{j}.example.org",) for j in range(200)], "host string")
    empty_host = next(r.host for r in hosts.select("host", hostb.alias("b"))
                      .collect() if r.b not in have)

    probe_rows = [(f"https://h{i % 10}.example.org/p{i}",
                   f"h{i % 10}.example.org") for i in range(600, 1000)]
    probe_rows += [("https://nohost.example.org/seen", None),
                   ("https://nohost.example.org/new", None)]
    probe_rows += [(f"https://{empty_host}/q{i}", empty_host) for i in range(20)]
    probe = spark.createDataFrame(probe_rows, "url string, host string")

    def flags(prober):
        out = prober(probe, "url", shards, n_buckets=n_buckets,
                     bucket_expr=hostb)
        return {r.url: r.maybe_seen for r in out.collect()}

    bcast = flags(bloom_contains_broadcast)
    cogroup = flags(bloom_contains_sharded)
    assert bcast == cogroup
    assert len(bcast) == len(probe_rows)

    seen = {f"https://h{i % 10}.example.org/p{i}" for i in range(600, 800)}
    seen.add("https://nohost.example.org/seen")
    assert all(bcast[u] for u in seen)  # no false negatives
    new = [f"https://h{i % 10}.example.org/p{i}" for i in range(800, 1000)]
    assert sum(bcast[u] for u in new) <= 10  # fpp ~1% of 200
    assert not any(bcast[f"https://{empty_host}/q{i}"] for i in range(20))
    shards.unpersist()


def test_sharded_url_seen_matches_monolithic(spark):
    """Host-aligned bloom shards answer membership with the same contract
    as one monolithic bloom (a single shard over the whole frontier):
    zero false negatives on every inserted URL, and the definitely-new
    drop rate holds.  Exact bit-for-bit equality is not expected — the
    shards use per-bucket m/k — the contract is what updatedb relies on."""
    from pyspark.sql import functions as F

    from coherencebot_spark.functions.hashing import (
        bloom_contains_sharded, build_bloom_sharded)

    n_buckets = 16
    hostb = F.pmod(F.xxhash64(F.col("host")), F.lit(n_buckets)).cast("int")
    # 40 hosts so URLs spread over many of the 16 buckets
    frontier = spark.createDataFrame(
        [frow(f"https://h{i % 40}.example.org/p{i}") for i in range(800)],
        FRONTIER)
    mono = build_bloom_sharded(frontier, "url", capacity=800, n_buckets=1)
    shard = build_bloom_sharded(frontier, "url", capacity=800,
                                n_buckets=n_buckets,
                                bucket_expr=hostb).persist()
    assert mono.count() == 1
    assert shard.count() > 4  # genuinely multi-bucket

    probe = spark.createDataFrame(
        [(f"https://h{i % 40}.example.org/p{i}", f"h{i % 40}.example.org")
         for i in range(600, 1000)],
        "url string, host string")
    kept_mono = {r.url for r in bloom_contains_sharded(
        probe, "url", mono, n_buckets=1).filter("maybe_seen").collect()}
    kept_shard = {r.url for r in bloom_contains_sharded(
        probe, "url", shard, n_buckets=n_buckets,
        bucket_expr=hostb).filter("maybe_seen").collect()}
    seen_urls = {f"https://h{i % 40}.example.org/p{i}" for i in range(600, 800)}
    # no false negatives in either layout
    assert seen_urls <= kept_mono
    assert seen_urls <= kept_shard
    # definitely-new URLs are mostly dropped by both (fpp ~1% of 200)
    assert len(kept_mono - seen_urls) <= 10
    assert len(kept_shard - seen_urls) <= 10
    assert probe.count() - len(kept_shard) >= 180  # counted as new
    shard.unpersist()


def test_elastic_bulk_round_trip(spark, tmp_path):
    """indexer-elastic analogue: _bulk NDJSON with index + delete actions
    parses back exactly (escaping-safe ids, hex binaries)."""
    from coherencebot_spark.sources.sinks import (
        read_elastic_bulk, write_elastic_bulk,
    )

    df = spark.createDataFrame(
        [("https://a.example.org/x", 'tricky "quoted"', b"\x01\x02", False),
         ("https://b.example.org/y", "plain", None, True)],
        'url string, title string, sig binary, _delete boolean',
    )
    out = str(tmp_path / "bulk")
    write_elastic_bulk(df, out, index="docs")
    recs = read_elastic_bulk(out)
    kinds = sorted(k for k, _ in recs)
    assert kinds == ["delete", "index"]
    src = next(s for k, s in recs if k == "index")
    assert src["url"] == "https://a.example.org/x"
    assert src["title"] == 'tricky "quoted"'
    assert src["sig"] == "0102"


def test_warc_round_trip(spark, tmp_path):
    """dump_segment_warc writes spec-layout WARC 1.0 records (version line,
    CRLF headers, Content-Length-delimited payload, record separator) that
    the reader parses back byte-exact."""
    from coherencebot_spark.schemas import CONTENT, FETCH_LOG
    from coherencebot_spark.sources.sinks import (
        dump_segment_warc, read_warc_records,
    )
    from coherencebot_spark.status import Fetch

    T = 1_700_000_000_000
    fl = spark.createDataFrame(
        [dict(url=f"https://h.example.org/p{i}", host="h.example.org",
              status=int(Fetch.SUCCESS), fetch_time=T + i, retries=0,
              fetch_interval=2_592_000, score=1.0, signature=None,
              modified_time=0, metadata=None, proto_status=1,
              redirect_to=None)
         for i in range(3)],
        FETCH_LOG,
    )
    ct = spark.createDataFrame(
        [dict(url=f"https://h.example.org/p{i}", image_id=f"i{i}",
              bytes=bytes([i]) * (10 + i), w=1, h=1, fmt="png",
              caption=f"caption {i}\nwith newline", phash=i)
         for i in range(3)],
        CONTENT,
    )
    out = str(tmp_path / "warc")
    dump_segment_warc(fl, ct, out)
    recs = read_warc_records(out)
    by_type = {}
    for r in recs:
        by_type.setdefault(r["type"], []).append(r)
    assert len(by_type["warcinfo"]) >= 1
    assert len(by_type["resource"]) == 3
    assert len(by_type["metadata"]) == 3
    res = {r["WARC-Target-URI"]: r for r in by_type["resource"]}
    for i in range(3):
        r = res[f"https://h.example.org/p{i}"]
        assert r["payload"] == bytes([i]) * (10 + i)  # byte-exact payload
        assert r["Content-Type"] == "image/png"
        assert r["WARC-Date"].endswith("Z")
        assert r["WARC-Record-ID"].startswith("<urn:uuid:")
    # metadata records link back via WARC-Concurrent-To
    meta_targets = {m["WARC-Concurrent-To"] for m in by_type["metadata"]}
    assert meta_targets == {r["WARC-Record-ID"] for r in by_type["resource"]}


def test_index_documents_and_csv(spark, tmp_path):
    from coherencebot_spark.schemas import CONTENT
    frontier = spark.createDataFrame(
        [frow("https://h.example.org/ok"),
         frow("https://h.example.org/gone", Db.GONE)], FRONTIER)
    content = spark.createDataFrame(
        [dict(url="https://h.example.org/ok", image_id="i", bytes=b"\x01",
              w=1, h=1, fmt="png", caption="c", phash=1)], CONTENT)
    docs = build_index_documents(frontier, content)
    got = {r.url: r for r in docs.collect()}
    assert got["https://h.example.org/ok"]._delete is False
    assert got["https://h.example.org/gone"]._delete is True
    write_csv(docs, str(tmp_path / "csv"))
    out = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert out.count() == 2


def test_kafka_sink_gated_with_actionable_error(spark):
    """No Kafka connector jar ships in this sandbox (permanently ⚪ in
    COVERAGE.md): the sink must fail with the actionable --packages
    message, not Spark's generic ClassNotFound chain."""
    import pytest

    from coherencebot_spark.sources.sinks import write_kafka

    df = spark.createDataFrame([("u1", 1)], "url string, status int")
    with pytest.raises(RuntimeError, match="--packages"):
        write_kafka(df, "localhost:9092", "t")


def test_file_dumper(spark, tmp_path):
    # tools/FileDumper analogue: one file per payload + mimetype histogram
    import os

    from coherencebot_spark.operators.tools import dump_content_files
    from coherencebot_spark.schemas import CONTENT

    rows = [
        dict(url="http://a.org/img/cat.png", image_id="i1", bytes=b"PNGDATA",
             w=2, h=2, fmt="png", caption="c", phash=1),
        dict(url="http://a.org/img/dog.bmp", image_id="i2", bytes=b"BMPDATA",
             w=2, h=2, fmt="bmp", caption="c", phash=2),
        dict(url="http://a.org/missing", image_id=None, bytes=None,
             w=None, h=None, fmt=None, caption=None, phash=None),
    ]
    content = spark.createDataFrame(rows, CONTENT)
    outdir = str(tmp_path / "dump")
    hist = dump_content_files(content, outdir)
    assert hist == {"png": 1, "bmp": 1}
    files = sorted(os.listdir(outdir))
    assert len(files) == 2
    assert any(f.endswith("_cat.png.png") for f in files)
    data = {f.split(".")[-1]: open(os.path.join(outdir, f), "rb").read()
            for f in files}
    assert data == {"png": b"PNGDATA", "bmp": b"BMPDATA"}
    # format filter (the reference's mimeTypes arg)
    outdir2 = str(tmp_path / "dump2")
    assert dump_content_files(content, outdir2, formats=["png"]) == {"png": 1}


def test_dmoz_parser(spark, tmp_path):
    # tools/DmozParser analogue: RDF → seed lines with topic subset filter
    from coherencebot_spark.operators.inject import parse_seed_lines
    from coherencebot_spark.operators.tools import parse_dmoz_rdf

    rdf = """<?xml version="1.0" encoding="UTF-8"?>
<RDF xmlns:r="http://www.w3.org/TR/RDF/">
<Topic r:id="Top/Arts"><catid>2</catid></Topic>
<ExternalPage about="http://arts.example.org/">
  <d:Title>Arts site</d:Title>
  <topic>Top/Arts</topic>
</ExternalPage>
<ExternalPage about="http://science.example.org/page">
  <d:Title>Science site</d:Title>
  <topic>Top/Science/Physics</topic>
</ExternalPage>
<ExternalPage about="http://no-topic.example.org/">
  <d:Title>Orphan</d:Title>
</ExternalPage>
</RDF>
"""
    p = tmp_path / "dmoz.rdf"
    p.write_text(rdf)
    seeds = parse_dmoz_rdf(spark, str(p))
    lines = sorted(r.line for r in seeds.collect())
    assert lines == [
        "http://arts.example.org/\tdmoz.topic=Top/Arts",
        "http://no-topic.example.org/",
        "http://science.example.org/page\tdmoz.topic=Top/Science/Physics",
    ]
    # topic subset regex (the -topic arg)
    sci = parse_dmoz_rdf(spark, str(p), topic_pattern="^Top/Science")
    assert [r.line for r in sci.collect()] \
        == ["http://science.example.org/page\tdmoz.topic=Top/Science/Physics"]
    # the output is injector-ready seed-line shape
    from coherencebot_spark.config import DEFAULT

    parsed = parse_seed_lines(seeds, DEFAULT, 1_700_000_000_000)
    got = {r.url: r.metadata for r in parsed.collect()}
    assert got["http://arts.example.org/"].get("dmoz.topic") == "Top/Arts"


def test_solr_xml_sink_round_trip(spark, tmp_path):
    """indexer-solr analogue: XML update commands (add docs + delete ids)
    parse back exactly; XML-escaping-safe values, hex binaries, nulls
    omitted like unset SolrInputDocument fields."""
    from coherencebot_spark.sources.sinks import read_solr_xml, write_solr_xml

    df = spark.createDataFrame(
        [("https://a.example.org/x", 'needs <escaping> & "quotes"',
          b"\x01\x02", None, False),
         ("https://b.example.org/y", "plain", None, 7, False),
         ("https://gone.example.org/z", "dead", None, None, True)],
        "url string, title string, sig binary, n int, _delete boolean",
    )
    out = str(tmp_path / "solr")
    write_solr_xml(df, out)
    adds, deletes = read_solr_xml(out)
    assert deletes == ["https://gone.example.org/z"]
    by_url = {d["url"]: d for d in adds}
    assert set(by_url) == {"https://a.example.org/x", "https://b.example.org/y"}
    a = by_url["https://a.example.org/x"]
    assert a["title"] == 'needs <escaping> & "quotes"'
    assert a["sig"] == "0102"
    assert "n" not in a  # null field omitted
    assert by_url["https://b.example.org/y"]["n"] == "7"


def test_cleaning_job(spark, tmp_path):
    """bin/nutch clean (CleaningJob.java): gone + duplicate rows become
    delete actions; everything else is untouched.  Round-trips through
    the solr-xml sink's delete contract."""
    from coherencebot_spark.sources.sinks import (
        cleaning_job, read_solr_xml, write_solr_xml)
    from coherencebot_spark.status import Db

    rows = [
        ("http://h/ok", int(Db.FETCHED)),
        ("http://h/gone", int(Db.GONE)),
        ("http://h/dup", int(Db.DUPLICATE)),
        ("http://h/unfetched", int(Db.UNFETCHED)),
    ]
    f = spark.createDataFrame(rows, "url string, status int")
    got = {r.url for r in cleaning_job(f).collect()}
    assert got == {"http://h/gone", "http://h/dup"}
    # --noCommit analogue of duplicate handling: CleaningJob always
    # includes duplicates; the toggle is for engines doing dedup natively
    only_gone = {r.url for r in
                 cleaning_job(f, include_duplicates=False).collect()}
    assert only_gone == {"http://h/gone"}

    out = str(tmp_path / "deletes")
    write_solr_xml(cleaning_job(f), out)
    docs, deletes = read_solr_xml(out)
    assert docs == []
    assert sorted(deletes) == ["http://h/dup", "http://h/gone"]


def test_dummy_sink(spark, tmp_path):
    """indexer-dummy (DummyIndexWriter.java:90-116): add\\t<id> lines,
    delete\\t<key> only when the writer's delete param is on."""
    import glob

    from coherencebot_spark.sources.sinks import write_dummy

    df = spark.createDataFrame(
        [("u1", False), ("u2", False), ("gone", True)],
        "url string, _delete boolean")

    def lines(path):
        out = []
        for fn in glob.glob(f"{path}/part-*"):
            with open(fn) as f:
                out += [ln.rstrip("\n") for ln in f if ln.strip()]
        return sorted(out)

    p1 = str(tmp_path / "d1")
    write_dummy(df, p1)
    assert lines(p1) == ["add\tu1", "add\tu2"]

    p2 = str(tmp_path / "d2")
    write_dummy(df, p2, delete=True)
    assert lines(p2) == ["add\tu1", "add\tu2", "delete\tgone"]
