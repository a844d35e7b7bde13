"""Tests of the benchmark itself: each correctness check fails on a
planted defect, and a planted delay is charged to the layer it was
planted in and to no other.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, machine  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from coherencebot_spark.session import build_session

    tmp = tmp_path_factory.mktemp("spark")
    s = build_session(app_name="perfbench-tests", master="local[1]",
                      shuffle_partitions=1,
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.local.dir": str(tmp),
                                  "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _frontier(spark, n=40, buckets=8):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("https://host"), (F.col("id") % 5).cast("string"),
                 F.lit(".example.org/p/"), F.col("id").cast("string"))
        .alias("url"),
        F.concat(F.lit("host"), (F.col("id") % 5).cast("string"),
                 F.lit(".example.org")).alias("host"),
        F.lit(1).alias("status"),
    ).withColumn("bucket", F.pmod(F.xxhash64("host"), F.lit(buckets))
                 .cast("int"))


# ---------------------------------------------------------------------------
# correctness checks on planted defects
# ---------------------------------------------------------------------------


def test_unique_fails_on_duplicated_url(spark):
    f = _frontier(spark)
    assert checks.check_unique(f) is None
    assert checks.check_unique(f.unionByName(f.limit(1))) is not None


def test_size_growth_and_pinned_fail_on_wrong_counts():
    assert checks.check_size_metric(40, 40) is None
    assert checks.check_size_metric(41, 40) is not None
    assert checks.check_growth(100, [3, 4], 107) is None
    assert checks.check_growth(100, [3, 4], 106) is not None
    assert checks.check_pinned([(5, 5, 9)], [[5, 5, 9]], "v1") == [None]
    assert checks.check_pinned([(5, 5, 9)], [[5, 5, 8]], "v1")[0] is not None
    # no pin for the variant, or for a later cycle: nothing was compared
    assert checks.check_pinned([(5, 5, 9)], None, "v1")[0] is not None
    assert checks.check_pinned([(5, 5, 9), (1, 1, 1)], [[5, 5, 9]],
                               "v1")[1] is not None


def test_segment_fails_on_wrong_counts(spark):
    from coherencebot_spark.status import Fetch

    log = spark.createDataFrame(
        [("a", int(Fetch.SUCCESS)), ("b", int(Fetch.SUCCESS)),
         ("c", int(Fetch.GONE))], "url string, status int")
    assert checks.check_segment(3, 2, log) is None
    assert checks.check_segment(3, 3, log) is not None
    assert checks.check_segment(4, 2, log) is not None


def test_no_false_negatives_fails_on_dropped_shard_row(spark, tmp_path):
    from pyspark.sql import functions as F

    from coherencebot_spark.functions.hashing import build_bloom_sharded

    buckets = 8
    f = _frontier(spark, buckets=buckets)
    shards = build_bloom_sharded(f, "url", 40, buckets,
                                 bucket_expr=F.col("bucket"))
    good = str(tmp_path / "good")
    shards.write.partitionBy("bucket").parquet(good)
    assert checks.check_no_false_negatives(f, good, buckets) is None

    # drop the shard of one populated bucket: its urls become misses
    b0 = f.select("bucket").first()["bucket"]
    bad = str(tmp_path / "bad")
    (spark.read.parquet(good).filter(F.col("bucket") != b0)
     .write.partitionBy("bucket").parquet(bad))
    assert checks.check_no_false_negatives(f, bad, buckets) is not None


def test_committed_frontier_resolves_merge_chain_and_sees_duplicates(
        spark, tmp_path):
    from coherencebot_spark.sources.snapshot import SnapshotTable

    f = _frontier(spark)
    tbl = SnapshotTable(str(tmp_path / "frontier"), "frontier")
    tbl.write(f, partition_by=["bucket"])
    touched = [r["bucket"] for r in f.select("bucket").distinct().collect()][:2]
    part = f.filter(f.bucket.isin(touched))
    tbl.merge_write(part, touched)
    got = checks.committed_frontier(spark, tbl.path)
    assert got.count() == 40
    assert checks.check_unique(got) is None
    assert checks.chain_depth(tbl.path) == 2

    # a merge commit that writes one url twice is caught through the chain
    tbl.merge_write(part.unionByName(part.limit(1)), touched)
    assert checks.check_unique(checks.committed_frontier(spark, tbl.path)) \
        is not None


# ---------------------------------------------------------------------------
# span accounting with a planted delay
# ---------------------------------------------------------------------------


class _FakeClock:
    """Time advances only by planted sleeps, so self times are exact."""

    def __init__(self):
        self.t = 0.0

    def now(self):
        return self.t

    def sleep(self, s):
        self.t += s


def _stub_cycle(spark, tmp_path, monkeypatch, slow_layer, clock):
    """A driver stand-in and a cycle that calls every wrapped entry point
    the way ``plans/cycle.py`` does, on tiny frames.  The entry point of
    ``slow_layer`` spends 3 s of ``clock`` time once."""
    from pyspark.sql import functions as F

    from coherencebot_spark.plans import cycle as cycle_mod
    from coherencebot_spark.sources.snapshot import SnapshotTable

    def slow(layer, fn):
        if layer != slow_layer:
            return fn

        def f(*a, **k):
            clock.sleep(3.0)
            return fn(*a, **k)
        return f

    rows = spark.range(4).select(F.col("id").cast("string").alias("url"),
                                 F.lit(0).alias("status"),
                                 (F.col("id") % 2 == 0).alias("maybe_seen"),
                                 F.lit(0).alias("bucket"))
    for name in ("generate", "parse", "updatedb", "dedup_by_phash"):
        monkeypatch.setattr(cycle_mod, name,
                            slow(name, lambda *a, **k: rows))
    monkeypatch.setattr(cycle_mod, "fetch", lambda *a, **k: (rows, rows))

    d = types.SimpleNamespace(
        cfg=types.SimpleNamespace(host_buckets=8), fetch_kwargs={},
        **{n: SnapshotTable(str(tmp_path / n), n) for n in
           ("frontier", "fetch_log", "content", "linkdb", "hostdb")})
    d.frontier.write = slow("snapshot", d.frontier.write)
    d._probe_seen = slow("url_seen", lambda po: (rows, rows))
    d._refresh_seen_blooms = lambda touched, frontier_df=None: None

    def update_linkdb(po, cycle_id, use_merge):
        d.linkdb.write(rows, cycle_id=cycle_id)

    d._update_linkdb = slow("linkdb", update_linkdb)
    d._update_hostdb = lambda cycle_id: d.hostdb.write(rows,
                                                       cycle_id=cycle_id)

    def run_cycle():
        fl = cycle_mod.generate(d.frontier, 0)
        log, content = cycle_mod.fetch(fl, 0)
        d.fetch_log.write(log, cycle_id=0)
        po = cycle_mod.parse(log, content)
        d._probe_seen(po)
        nf = cycle_mod.updatedb(rows, log, po, 0)
        nf = cycle_mod.dedup_by_phash(nf, content)
        d._refresh_seen_blooms([0])
        d.frontier.write(nf, cycle_id=0)
        d._update_linkdb(po, 0, False)
        d._update_hostdb(0)

    return d, run_cycle


@pytest.mark.parametrize("layer", ["parse", "linkdb", "url_seen", "snapshot"])
def test_planted_sleep_is_charged_to_its_layer_only(spark, tmp_path,
                                                    monkeypatch, layer):
    from perfbench.tracing import LAYERS, Tracer, instrument

    clock = _FakeClock()
    tracer = Tracer(spark.sparkContext, clock=clock.now)
    d, run_cycle = _stub_cycle(spark, tmp_path, monkeypatch, layer, clock)
    with instrument(d, tracer), tracer.span("cycle") as root:
        run_cycle()
    tracer.release()
    selfs = tracer.layer_self(root)
    assert set(selfs) == set(LAYERS)
    assert selfs[layer] == pytest.approx(3.0)
    assert all(v == 0 for k, v in selfs.items() if k != layer), selfs
    assert sum(selfs.values()) == pytest.approx(root.dur)
    # the wrappers are gone once the block exits
    assert "read" not in d.frontier.__dict__


def test_synth_share_moves_from_fetch_to_its_own_layer():
    from perfbench.tracing import Tracer

    clock = _FakeClock()
    tracer = Tracer(None, clock=clock.now)
    with tracer.span("cycle") as root:
        with tracer.span("fetch"):
            clock.sleep(5.0)
        clock.sleep(1.0)
    selfs = tracer.layer_self(root, synth_busy_s=8.0, slots=4)
    assert selfs["synth_server"] == pytest.approx(2.0)
    assert selfs["fetch"] == pytest.approx(3.0)
    assert selfs["cycle"] == pytest.approx(1.0)
    assert sum(selfs.values()) == pytest.approx(root.dur)


# ---------------------------------------------------------------------------
# sizing and the command-line contract
# ---------------------------------------------------------------------------


def test_size_box_fails_fast_on_small_boxes():
    with pytest.raises(machine.BoxTooSmall):
        machine.size_box(1, 16_000)
    with pytest.raises(machine.BoxTooSmall):
        machine.size_box(4, 2_000)
    box = machine.size_box(4, 16_000)
    assert box["master"] == "local[4]" and box["shuffle_partitions"] == 4
    assert int(box["driver_memory"].rstrip("m")) <= machine.MAX_DRIVER_MB


def test_run_refuses_without_the_program(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "touch_5pct", "--seed", "1", "--seconds", "1",
         "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""


def test_every_seed_selects_a_pinned_variant():
    import json

    from perfbench import workloads as W

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    with open(os.path.join(ROOT, "perfbench", "pinned.json")) as f:
        pinned = json.load(f)
    for seed in (-3, 0, 1, W.VARIANTS, W.VARIANTS + 1, 12345):
        assert 1 <= W.input_seed(seed) <= W.VARIANTS
    for wl in names:
        assert set(pinned[wl]) == {str(v) for v in
                                   range(1, W.VARIANTS + 1)}, wl
