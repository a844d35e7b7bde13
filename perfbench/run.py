"""Crawl-cycle benchmark: the production cycle over seeded workloads.

    python3 perfbench/run.py --workload touch_5pct --seed 1 --seconds 30 --trace 0

Run from the repository root.  One process builds a session at
``local[nproc]`` sized from the box (``machine.size_box``), generates the
workload's inputs from ``--seed``, hands them to
``CrawlDriver(bucketed=True)`` with ``use_url_seen=True`` and times its
``run_cycle`` calls.  ``--seconds`` is the measuring budget: the run times
``round(seconds / NOMINAL_CYCLE_S)`` consecutive cycles (at least one),
a fixed count so every run of a workload does the same work.  After
timing, the correctness checks in ``checks.py`` read what was committed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers (``tracing.py``), records an event log, and reports the per-layer
metrics.  Two JSON lines are printed: the full stamped record, then the
summary object ``{"correct", "attempted", "failed", "metrics"}`` as the
last line.  Everything the run writes stays under ``.perfbench_work/`` in
the current directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
NOMINAL_CYCLE_S = 30

# end-to-end metrics: name → unit (tracing off), in the summary line
END_TO_END = {
    "cycle_s": "s", "urls_per_s": "URL/s", "setup_s": "s",
    "write_bytes_per_url": "B/URL", "stored_bytes_per_row": "B/row",
}
# end-to-end metrics printed in the record line only: the driver JVM's
# adaptive heap growth gives peak_rss_mb a quartile spread of about 0.14
# across runs, over half the widest bound, and cycle_fail_frac is what
# the summary line's failed / attempted already carry
RECORD_ONLY = {"peak_rss_mb": "MB", "cycle_fail_frac": "ratio"}


def _per_layer_units() -> dict[str, str]:
    u = {
        "trace.cycle_s": "s",
        "session.jobs": "count", "session.tasks": "count",
        "session.listing_jobs": "count", "session.core_busy_frac": "ratio",
        "session.shuffle_bytes": "B", "session.spill_bytes": "B",
        "generate.rows_out": "count",
        "fetch.rows_out": "count", "fetch.fail_frac": "ratio",
        "synth_server.busy_s": "s",
        "parse.linked_rows": "count",
        "url_seen.probe_s": "s", "url_seen.refresh_s": "s",
        "url_seen.probed_rows": "count", "url_seen.maybe_seen_frac": "ratio",
        "url_seen.false_pos_frac": "ratio",
        "url_seen.shards_rebuilt": "count", "url_seen.shard_bytes": "B",
        "updatedb.rows_in": "count", "updatedb.rows_out": "count",
        "dedup.dups_marked": "count",
        "snapshot.read_s": "s", "snapshot.commit_s": "s",
        "snapshot.bytes_written": "B", "snapshot.files_written": "count",
        "snapshot.chain_depth": "count",
        "linkdb.rows_out": "count",
    }
    from perfbench.tracing import LAYERS
    for layer in LAYERS:
        u[f"{layer}.self_s"] = "s"
        if layer not in ("synth_server",):
            u[f"{layer}.jobs"] = "count"
            u[f"{layer}.task_s"] = "s"
    return u


def _load_pinned(workload: str, variant: int):
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f).get(workload, {}).get(str(variant))


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def _session(box: dict, work: str, name: str, trace: bool):
    from coherencebot_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # keep every file the JVM and its workers write inside the checkout
    # (-XX:-UsePerfData: no hsperfdata file in the system temp directory)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": box["driver_memory"],
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(app_name=f"perfbench-{name}", master=box["master"],
                          shuffle_partitions=box["shuffle_partitions"],
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core with the synthetic web imported,
    so the timed cycle does not pay the first fork."""
    def touch(it):
        from coherencebot_spark.synth.world import payload_rows_batch
        for pdf in it:
            payload_rows_batch(pdf["id"].to_numpy() % 64)
            yield pdf
    spark.range(0, cores * 64, 1, cores).mapInPandas(touch, "id long") \
        .count()


def _driver(spark, shape, crawl_dir: str):
    from coherencebot_spark.config import DEFAULT
    from coherencebot_spark.plans.cycle import CrawlDriver
    from coherencebot_spark.synth.world import (payload_rows_batch,
                                                proto_outcomes)

    from perfbench import workloads as W

    cfg = DEFAULT.with_(
        topn=shape.topn, max_count=shape.max_count,
        host_buckets=W.HOST_BUCKETS,
        ignore_external_links=shape.ignore_external,
        use_url_seen=True, broadcast_small_sides=True,
        # politeness delay scaled so the virtual clock never drops rows
        server_delay_ms=100, time_limit_ms=3_600_000_000,
    )
    # backend and payload are passed explicitly (the same callables
    # fetch defaults to) so the traced run can wrap them
    if shape.all_success:
        kw = dict(backend=W.all_success_backend,
                  robots_provider=W.allow_all_robots)
    else:
        kw = dict(backend=functools.partial(
            proto_outcomes, n_images=1_000_000, n_hosts=shape.n_hosts))
    kw["payload_batch_fn"] = payload_rows_batch
    return CrawlDriver(spark, crawl_dir, cfg, bucketed=True,
                       n_hosts=shape.n_hosts, **kw)


def _seed_inputs(spark, driver, shape, seed: int) -> None:
    from perfbench import workloads as W

    if shape.frontier_rows:
        driver._write_frontier(W.synthesize_frontier(spark, shape, seed),
                               cycle_id="seed",
                               metrics={"frontier_size": shape.frontier_rows})
    else:
        from coherencebot_spark.schemas import SEEDS
        driver.inject(spark.createDataFrame(W.seed_lines(shape, seed), SEEDS),
                      W.T0)


# ---------------------------------------------------------------------------
# traced roll-up
# ---------------------------------------------------------------------------


def _cycle_layer_counts(spark, tracer, root, driver, pre_id: int,
                        synth_busy_s: float, cores: int) -> dict:
    """Per-layer metrics of one traced cycle that need Spark or the
    filesystem; computed after the cycle, outside its span."""
    from pyspark.sql import functions as F

    from coherencebot_spark.status import Db
    from perfbench.machine import tree_bytes

    from perfbench import checks

    def sp(layer, op=None):
        return tracer.spans_in(root, layer, op)

    def total(spans, key):
        return sum(s.counts.get(key, 0) for s in spans)

    selfs = tracer.self_times()
    out = {f"{k}.self_s": v for k, v in
           tracer.layer_self(root, synth_busy_s, cores).items()}
    out["trace.cycle_s"] = root.dur
    out["synth_server.busy_s"] = synth_busy_s

    gen = sp("generate")
    out["generate.rows_out"] = total(gen, "rows_out")
    fe = sp("fetch")
    n, ok = total(fe, "rows_out"), total(fe, "rows_out_true")
    out["fetch.rows_out"] = n
    out["fetch.fail_frac"] = (n - ok) / n if n else 0.0
    out["parse.linked_rows"] = total(sp("parse"), "rows_out_true")

    probe, refresh = sp("url_seen", "probe"), sp("url_seen", "refresh")
    out["url_seen.probe_s"] = sum(selfs[s.sid] for s in probe)
    out["url_seen.refresh_s"] = sum(selfs[s.sid] for s in refresh)
    probed = total(probe, "probed_rows")
    maybe = total(probe, "probed_rows_true")
    out["url_seen.probed_rows"] = probed
    out["url_seen.maybe_seen_frac"] = maybe / probed if probed else 0.0
    pre = checks.committed_frontier(spark, driver.frontier.path, pre_id) \
        .select("url")
    fp = sum(s.refs["probed"].filter(F.col("maybe_seen"))
             .join(pre, "url", "left_anti").count() for s in probe)
    out["url_seen.false_pos_frac"] = fp / maybe if maybe else 0.0
    out["url_seen.shards_rebuilt"] = total(refresh, "shards_rebuilt")
    out["url_seen.shard_bytes"] = tree_bytes(driver._blooms_path)[0]

    upd = sp("updatedb")
    out["updatedb.rows_in"] = sum(df.count() for s in upd
                                  for df in s.refs["inputs"])
    out["updatedb.rows_out"] = total(upd, "rows_out")
    dd = sp("dedup")
    dup_in = sum(s.refs["input"].filter(F.col("status") == int(Db.DUPLICATE))
                 .count() for s in dd)
    out["dedup.dups_marked"] = total(dd, "rows_out_true") - dup_in

    snaps = sp("snapshot")
    out["snapshot.read_s"] = sum(selfs[s.sid] for s in snaps
                                 if s.op.startswith("read:"))
    out["snapshot.commit_s"] = sum(selfs[s.sid] for s in snaps
                                   if not s.op.startswith("read:"))
    written = [tree_bytes(s.refs["written_dir"]) for s in snaps
               if "written_dir" in s.refs]
    out["snapshot.bytes_written"] = sum(b for b, _ in written)
    out["snapshot.files_written"] = sum(f for _, f in written)
    out["snapshot.chain_depth"] = checks.chain_depth(driver.frontier.path)
    # rows the linkdb update committed, counted as its input was forced
    out["linkdb.rows_out"] = total(sp("linkdb"), "committed_rows")
    return out


def _event_metrics(ev_dir: str, tracer, roots: list, cores: int) -> list[dict]:
    from perfbench.tracing import LAYERS, event_log_rollup

    files = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    per_span = event_log_rollup(files[0]) if files else {}
    out = []
    for root in roots:
        inside = tracer._subtree(root.sid)
        agg = {layer: {"jobs": 0, "task_s": 0.0} for layer in LAYERS}
        tot = {"jobs": 0, "tasks": 0, "listing_jobs": 0, "run_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for s in tracer.spans:
            r = per_span.get(str(s.sid))
            if s.sid not in inside or r is None:
                continue
            agg[s.layer]["jobs"] += r["jobs"]
            agg[s.layer]["task_s"] += r["run_s"]
            for k in tot:
                tot[k] += r[k]
        m = {f"session.{k}": tot[k] for k in
             ("jobs", "tasks", "listing_jobs", "shuffle_bytes",
              "spill_bytes")}
        m["session.core_busy_frac"] = tot["run_s"] / (root.dur * cores)
        for layer, a in agg.items():
            if layer != "synth_server":
                m[f"{layer}.jobs"] = a["jobs"]
                m[f"{layer}.task_s"] = a["task_s"]
        out.append(m)
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: int, trace: bool, box: dict,
        cores: int, root: str) -> dict:
    """Set up, time the cycles, check, tear down.  Returns the record."""
    from perfbench import workloads as W
    from perfbench.machine import (RssSampler, machine_stamp, stop_spark,
                                   tree_bytes)

    shape = W.SHAPES[workload]
    work = os.path.join(root, ".perfbench_work",
                        f"{workload}-{seed}-{os.getpid()}")
    crawl_dir = os.path.join(work, "crawl")
    variant = W.input_seed(seed)
    rec: dict = {"workload": workload, "seed": seed, "variant": variant,
                 "trace": int(trace), "errors": []}
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = _session(box, work, workload, trace)
        driver = _driver(spark, shape, crawl_dir)
        _seed_inputs(spark, driver, shape, variant)
        driver._load_or_build_blooms()  # URL-seen bootstrap
        _warm_workers(spark, cores)
        rec["setup_s"] = time.perf_counter() - t_setup
        rec["machine"] = machine_stamp(spark)

        n_cycles = max(1, round(seconds / NOMINAL_CYCLE_S))
        tracer = None
        if trace:
            from perfbench.tracing import Tracer
            tracer = Tracer(spark.sparkContext)
        walls, counts, pre_ids, metrics, layer_rows = [], [], [], [], []
        bytes0 = tree_bytes(crawl_dir)[0]
        sampler = RssSampler().start()
        for k in range(n_cycles):
            pre_ids.append(driver.frontier.current_id())
            cur = W.T0 + 1000 + k * W.CYCLE_MS
            try:
                if tracer is None:
                    t0 = time.perf_counter()
                    m = driver.run_cycle(k, cur)
                    walls.append(time.perf_counter() - t0)
                else:
                    from perfbench.tracing import instrument
                    busy0 = tracer.synth_acc.value
                    t0 = time.perf_counter()
                    with instrument(driver, tracer), \
                            tracer.span("cycle") as cyc:
                        m = driver.run_cycle(k, cur)
                    walls.append(time.perf_counter() - t0)
            except Exception:  # noqa: BLE001 — report the cycle as failed
                rec["errors"].append(traceback.format_exc(limit=5))
                break
            if tracer is not None:
                layer_rows.append(_cycle_layer_counts(
                    spark, tracer, cyc, driver, pre_ids[-1],
                    tracer.synth_acc.value - busy0, cores))
                tracer.release()
            metrics.append(m)
            counts.append((m.generated, m.fetched, m.new_links))
        sampler.stop()
        bytes1 = tree_bytes(crawl_dir)[0]

        rec["attempted"] = len(walls) + (1 if rec["errors"] else 0)
        verdicts = [None] * len(metrics)
        if metrics:
            verdicts = _run_checks(spark, driver, workload, variant,
                                   metrics, counts, pre_ids, rec)
        fails = sum(1 for v in verdicts if v) + (1 if rec["errors"] else 0)
        rec["failed"] = fails
        rec["cycle_fail_frac"] = fails / max(rec["attempted"], 1)
        rec["cycles"] = [dict(zip(("generated", "fetched", "new_links"), c),
                              wall_s=w, frontier_size=m.frontier_size,
                              phases=m.timings)
                         for c, w, m in zip(counts, walls, metrics)]
        gen = sum(c[0] for c in counts)
        if walls and gen:
            rec["metrics"] = {
                "cycle_s": statistics.median(walls),
                "urls_per_s": gen / sum(walls),
                "setup_s": rec["setup_s"],
                "peak_rss_mb": sampler.peak_mb,
                "write_bytes_per_url": (bytes1 - bytes0) / gen,
                "stored_bytes_per_row": bytes1 / metrics[-1].frontier_size,
                "cycle_fail_frac": rec["cycle_fail_frac"],
            }
        roots = tracer.cycle_roots() if tracer is not None else []
    finally:
        if spark is not None:
            stop_spark(spark)
    if trace and layer_rows:
        ev = _event_metrics(os.path.join(work, "eventlog"), tracer,
                            roots[:len(layer_rows)], cores)
        rows = [{**a, **b} for a, b in zip(layer_rows, ev)]
        rec["layers"] = {k: statistics.fmean(r[k] for r in rows)
                         for k in rows[0]}
        rec["layers"]["trace.unaccounted_s"] = statistics.fmean(
            r["trace.cycle_s"] - sum(v for k, v in r.items()
                                     if k.endswith(".self_s"))
            for r in rows)
    shutil.rmtree(work, ignore_errors=True)
    return rec


def _run_checks(spark, driver, workload, variant, metrics, counts, pre_ids,
                rec) -> list[str | None]:
    """Checks (a)-(e); returns one verdict per timed cycle (a failed
    whole-frontier check fails the last cycle)."""
    from perfbench import checks

    path = driver.frontier.path
    now = checks.committed_frontier(spark, path).persist()
    final_rows = now.count()
    start_rows = checks.committed_frontier(spark, path, pre_ids[0]).count()
    glob = [
        checks.check_unique(now),
        checks.check_size_metric(metrics[-1].frontier_size, final_rows),
        checks.check_growth(start_rows, [c[2] for c in counts], final_rows),
        checks.check_no_false_negatives(now, driver._blooms_path,
                                        int(driver.cfg.host_buckets)),
    ]
    now.unpersist()
    per = checks.check_pinned(counts, _load_pinned(workload, variant),
                              f"{workload} input variant {variant}")
    for k, (g, f, _) in enumerate(counts):
        snap = driver.fetch_log.snapshot_for_cycle(k)
        log = spark.read.parquet(os.path.join(
            driver.fetch_log.path, "snapshots", snap["dir"]))
        per[k] = "; ".join(v for v in (per[k], checks.check_segment(
            g, f, log)) if v) or None
    rec["start_rows"] = start_rows
    rec["final_rows"] = final_rows
    rec["check_failures"] = [v for v in glob + per if v]
    g = "; ".join(v for v in glob if v)
    if g:
        per[-1] = (per[-1] + "; " if per[-1] else "") + g
    return per


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' to run every workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=NOMINAL_CYCLE_S)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "coherencebot_spark",
                                       "plans", "cycle.py")):
        print("perfbench: run from the repository root (coherencebot_spark/ "
              "not found in the current directory)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import machine
    from perfbench import workloads as W

    if args.workload == "all":
        # one process per workload: each pays its own session start
        rcs = [subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)]).returncode for w in W.SHAPES]
        return max(rcs)
    if args.workload not in W.SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(W.SHAPES)}", file=sys.stderr)
        return 2
    cores = machine.nproc()
    try:
        box = machine.size_box(cores, machine.mem_total_mb())
    except machine.BoxTooSmall as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3

    rec = run(args.workload, args.seed, args.seconds, bool(args.trace), box,
              cores, root)
    rec["stamp"] = {**rec.pop("machine", {}),
                    "commit": machine.git_commit(root), "seed": args.seed,
                    "workload": args.workload, "box": box}
    units = _per_layer_units() if args.trace else END_TO_END
    vals = rec.get("layers" if args.trace else "metrics") or {}
    ok = (not rec["errors"] and not rec.get("check_failures")
          and all(k in vals for k in units))
    rec["units"] = units if args.trace else {**END_TO_END, **RECORD_ONLY}
    print(json.dumps(rec, default=str), flush=True)
    print(json.dumps({
        "correct": ok,
        "attempted": max(int(rec.get("attempted", 0)), 1),
        "failed": int(rec.get("failed", 0)) if ok else max(
            int(rec.get("failed", 0)), 1),
        "metrics": {k: {"value": vals[k], "unit": u}
                    for k, u in units.items() if k in vals},
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
