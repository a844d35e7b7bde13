"""Spans around the calls a crawl cycle makes into each layer.

The spans are recorded from outside the program: :func:`instrument`
replaces, for the duration of a ``with`` block, the names that
``coherencebot_spark.plans.cycle`` calls (the operator functions, the
``SnapshotTable`` methods of the driver's tables, four ``CrawlDriver``
methods) and the protocol backend and payload function the crawl
driver hands to fetch.

Operators return lazy DataFrames, so a span around the call alone would
time only plan building and charge the work to whichever later action
triggers it.  Each wrapper therefore persists the returned frame and
runs one aggregate over it inside the span: the layer's work happens in
the layer's span, and downstream layers read the cached rows.
``SnapshotTable.read`` is the exception — its frame is a table scan that
callers prune by bucket, so its span covers the listing and planning
only.

Each span sets the Spark local property :data:`SPAN_PROP`; jobs carry it
into the event log, which :func:`event_log_rollup` maps back to spans.
Spans stay in memory; the run rolls them up after each cycle.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"

# layer → the metric prefix it reports under (module names of the engine)
LAYERS = ("generate", "fetch", "synth_server", "parse", "url_seen",
          "updatedb", "dedup", "snapshot", "linkdb", "hostdb", "cycle")


@dataclass
class Span:
    sid: int
    layer: str
    op: str
    parent: int | None
    t0: float
    t1: float = 0.0
    counts: dict = field(default_factory=dict)
    refs: dict = field(default_factory=dict)   # frames/paths for after-cycle counts

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder for the driver thread."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.keep: list = []      # frames persisted by forcing wrappers
        self.synth_acc = sc.accumulator(0.0) if sc is not None else None

    @contextlib.contextmanager
    def span(self, layer: str, op: str | None = None):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), layer, op or layer, parent, self.clock())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_prop(str(sp.sid))
        try:
            yield sp
        finally:
            sp.t1 = self.clock()
            self._stack.pop()
            self._set_prop(str(self._stack[-1].sid) if self._stack else None)

    def _set_prop(self, value: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, value)

    # -- forcing ------------------------------------------------------------
    def force(self, df, sp: Span, key: str, by=None):
        """Persist ``df`` and materialize it with one aggregate; the row
        count lands in ``sp.counts[key]`` and, when ``by`` (a boolean
        Column) is given, the count of rows where it holds in
        ``sp.counts[key + '_true']``."""
        from pyspark.sql import functions as F

        df = df.persist()
        self.keep.append(df)
        if by is None:
            sp.counts[key] = sp.counts.get(key, 0) + df.count()
        else:
            rows = df.groupBy(F.coalesce(by, F.lit(False)).alias("_k")) \
                .count().collect()
            got = {bool(r["_k"]): int(r["count"]) for r in rows}
            sp.counts[key] = sp.counts.get(key, 0) + sum(got.values())
            sp.counts[key + "_true"] = (sp.counts.get(key + "_true", 0)
                                        + got.get(True, 0))
        return df

    def release(self) -> None:
        for df in self.keep:
            df.unpersist()
        self.keep = []

    # -- roll-up ------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id → self time: duration minus its children's durations
        (children run on the same driver thread, so they never overlap)."""
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.sid: s.dur - child[s.sid] for s in self.spans}

    def cycle_roots(self) -> list[Span]:
        return [s for s in self.spans if s.layer == "cycle"]

    def layer_self(self, root: Span, synth_busy_s: float = 0.0,
                   slots: int = 1) -> dict[str, float]:
        """Self seconds per layer inside one cycle span, ``cycle`` being
        the residual.  The synthetic web server runs on workers inside
        fetch's span: its summed busy seconds over ``slots`` cores are
        its wall share, moved from fetch's self time to its own."""
        selfs = self.self_times()
        inside = self._subtree(root.sid)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s.sid in inside:
                out[s.layer] += selfs[s.sid]
        share = min(synth_busy_s / max(slots, 1), out["fetch"])
        out["fetch"] -= share
        out["synth_server"] += share
        return out

    def _subtree(self, sid: int) -> set[int]:
        inside = {sid}
        for s in self.spans:  # parents precede children in self.spans
            if s.parent in inside:
                inside.add(s.sid)
        return inside

    def spans_in(self, root: Span, layer: str, op: str | None = None):
        inside = self._subtree(root.sid)
        return [s for s in self.spans if s.sid in inside and s.layer == layer
                and (op is None or s.op == op)]


# ---------------------------------------------------------------------------
# wrappers
# ---------------------------------------------------------------------------


class TimedCallable:
    """Picklable wrapper that adds each call's seconds to a Spark
    accumulator; used for code that runs on Python workers."""

    def __init__(self, fn, acc):
        self.fn = fn
        self.acc = acc

    def __call__(self, *args, **kwargs):
        t = time.perf_counter()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.acc.add(time.perf_counter() - t)


@contextlib.contextmanager
def instrument(driver, tracer: Tracer):
    """Wrap the layer entry points ``driver.run_cycle`` reaches, restore
    them on exit."""
    from pyspark.sql import functions as F

    from coherencebot_spark.operators import fetch as fetch_mod
    from coherencebot_spark.plans import cycle as cycle_mod
    from coherencebot_spark.status import Db, Fetch, Msg

    undo: list = []

    def patch(obj, name, new):
        undo.append((obj, name, obj.__dict__.get(name, _MISSING)))
        setattr(obj, name, new)

    def wrap(layer, op, fn, force=None, before=None):
        @functools.wraps(fn)
        def w(*args, **kwargs):
            if before is not None:
                args = before(args)
            with tracer.span(layer, op) as sp:
                out = fn(*args, **kwargs)
                if force is not None:
                    out = force(out, sp, args, kwargs)
            return out
        return w

    def f_generate(out, sp, a, kw):
        return tracer.force(out, sp, "rows_out")

    def f_fetch(out, sp, a, kw):
        log, content = out
        log = tracer.force(log, sp, "rows_out",
                           by=F.col("status") == int(Fetch.SUCCESS))
        content = tracer.force(content, sp, "content_rows")
        return log, content

    def f_parse(out, sp, a, kw):
        return tracer.force(out, sp, "rows_out",
                            by=F.col("status") == int(Msg.LINKED))

    def f_updatedb(out, sp, a, kw):
        # rows_in counted after the cycle from the kept input frames
        sp.refs["inputs"] = a[:3]
        return tracer.force(out, sp, "rows_out")

    def f_dedup(out, sp, a, kw):
        sp.refs["input"] = a[0]
        return tracer.force(out, sp, "rows_out",
                            by=F.col("status") == int(Db.DUPLICATE))

    def f_probe(out, sp, a, kw):
        rest, probed = out
        rest = tracer.force(rest, sp, "rest_rows")
        probed = tracer.force(probed, sp, "probed_rows",
                              by=F.col("maybe_seen"))
        sp.refs["probed"] = probed
        return rest, probed

    def force_input(args):
        # the frame a write commits is built lazily by its caller
        # (linkdb's inversion, hostdb's aggregation): materialize it in
        # the caller's span so the snapshot span times the write alone
        if not tracer._stack or not args:
            return args
        df = tracer.force(args[0], tracer._stack[-1], "committed_rows")
        return (df,) + tuple(args[1:])

    def f_refresh(out, sp, a, kw):
        touched = a[0] if a else kw.get("touched")
        sp.counts["shards_rebuilt"] = (int(driver.cfg.host_buckets)
                                       if touched is None else len(touched))
        return out

    kw = driver.fetch_kwargs
    saved_kw = dict(kw)
    try:
        for name, layer, force in (("generate", "generate", f_generate),
                                   ("fetch", "fetch", f_fetch),
                                   ("parse", "parse", f_parse),
                                   ("updatedb", "updatedb", f_updatedb),
                                   ("dedup_by_phash", "dedup", f_dedup)):
            patch(cycle_mod, name,
                  wrap(layer, name, getattr(cycle_mod, name), force))
        patch(fetch_mod, "fetch_with_redirects",
              wrap("fetch", "fetch_with_redirects",
                   fetch_mod.fetch_with_redirects, f_fetch))
        for tbl in (driver.frontier, driver.fetch_log, driver.content,
                    driver.linkdb, driver.hostdb):
            for meth in ("read", "write", "merge_write"):
                patch(tbl, meth, wrap(
                    "snapshot", f"{meth}:{tbl.name}", getattr(tbl, meth),
                    _snapshot_written(tbl, meth),
                    None if meth == "read" else force_input))
        patch(driver, "_probe_seen",
              wrap("url_seen", "probe", driver._probe_seen, f_probe))
        patch(driver, "_refresh_seen_blooms",
              wrap("url_seen", "refresh", driver._refresh_seen_blooms,
                   f_refresh))
        patch(driver, "_update_linkdb",
              wrap("linkdb", "update", driver._update_linkdb))
        patch(driver, "_update_hostdb",
              wrap("hostdb", "update", driver._update_hostdb))
        for name in ("backend", "payload_batch_fn"):
            if kw.get(name) is not None:
                kw[name] = TimedCallable(kw[name], tracer.synth_acc)
        yield tracer
    finally:
        kw.clear()
        kw.update(saved_kw)
        for obj, name, old in reversed(undo):
            if old is _MISSING:
                delattr(obj, name)
            else:
                setattr(obj, name, old)


_MISSING = object()


def _snapshot_written(tbl, meth):
    """Force hook for SnapshotTable methods: after a write, note the new
    snapshot directory so its bytes and files are counted after the
    cycle (walking the tree inside the span would charge it to the
    layer)."""
    if meth == "read":
        return None

    def hook(out, sp, a, kw):
        import os
        entry = tbl.history()[int(out)]
        sp.refs["written_dir"] = os.path.join(tbl.path, "snapshots",
                                                entry["dir"])
        return out
    return hook


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def event_log_rollup(path: str) -> dict[str, dict]:
    """Per span id: jobs, listing jobs, tasks, task run/CPU seconds,
    shuffle bytes and spill bytes, from an uncompressed event log."""
    stage_span: dict[int, str] = {}
    out: dict[str, dict] = {}

    def rec(sid: str) -> dict:
        return out.setdefault(sid, {"jobs": 0, "listing_jobs": 0,
                                    "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                                    "shuffle_bytes": 0, "spill_bytes": 0})

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sid = props.get(SPAN_PROP)
                if sid is None:
                    continue
                r = rec(sid)
                r["jobs"] += 1
                names = " ".join(str(s.get("Stage Name", ""))
                                 for s in e.get("Stage Infos", []))
                desc = str(props.get("spark.job.description", ""))
                if "Listing leaf files" in names + desc:
                    r["listing_jobs"] += 1
                for st in e.get("Stage IDs", []):
                    stage_span[st] = sid
            elif ev == "SparkListenerTaskEnd":
                sid = stage_span.get(e.get("Stage ID"))
                if sid is None:
                    continue
                r = rec(sid)
                m = e.get("Task Metrics") or {}
                r["tasks"] += 1
                r["run_s"] += m.get("Executor Run Time", 0) / 1e3
                r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                r["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)
                                       + sw.get("Shuffle Bytes Written", 0))
                r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return out
