"""Summarize and compare benchmark records.

    python3 perfbench/report.py summary runs.jsonl
    python3 perfbench/report.py compare parent.jsonl change.jsonl
    python3 perfbench/report.py pin runs.jsonl

Input files hold the stamped record lines ``run.py`` prints (the line
before the last); other lines are skipped.  ``summary`` prints, per
workload, the median and the quartile spread of every metric, and the
tracing overhead (traced minus untraced median cycle wall) when both
kinds of run are present.  ``compare`` refuses, with exit code 2, to
compare records whose machine stamps differ.  ``pin`` merges each
untraced record's per-cycle (generated, fetched, new_links) into
``pinned.json`` under its input variant, after checking that records of
the same variant agree.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.checks import UNPINNED  # noqa: E402

MACHINE_KEYS = ("nproc", "mem_total_mb", "pyspark", "java")
HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{") and '"stamp"' in line:
                out.append(json.loads(line))
    return out


def machine(rec: dict) -> tuple:
    return tuple(rec["stamp"].get(k) for k in MACHINE_KEYS)


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with Python's default quartiles."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def by_workload(recs: list[dict], traced: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in recs:
        if r.get("trace") == traced:
            out.setdefault(r["workload"], []).append(r)
    return out


def summary(recs: list[dict]) -> dict:
    res: dict = {}
    for traced, key in ((0, "metrics"), (1, "layers")):
        for wl, rs in by_workload(recs, traced).items():
            names = sorted({k for r in rs for k in (r.get(key) or {})})
            res.setdefault(wl, {})[key] = {
                k: dict(zip(("median", "iqr_frac"),
                            spread([r[key][k] for r in rs if k in r[key]])),
                        n=len(rs))
                for k in names}
    for wl, d in res.items():
        if "metrics" in d and "layers" in d:
            d["tracing_overhead_s"] = (d["layers"]["trace.cycle_s"]["median"]
                                       - d["metrics"]["cycle_s"]["median"])
    return res


def compare(a: list[dict], b: list[dict]) -> dict:
    """Per workload and metric: both medians, their ratio, and the parent's
    quartile spread.  Callers check the machine stamps first."""
    sa, sb = summary(a), summary(b)
    out: dict = {}
    for wl in sorted(set(sa) & set(sb)):
        for k, va in sa[wl].get("metrics", {}).items():
            vb = sb[wl].get("metrics", {}).get(k)
            if vb is None:
                continue
            out.setdefault(wl, {})[k] = {
                "parent": va["median"], "change": vb["median"],
                "ratio": vb["median"] / va["median"] if va["median"] else None,
                "parent_iqr_frac": va["iqr_frac"]}
    return out


def pin(recs: list[dict], path: str) -> dict:
    with open(path) as f:
        pinned = json.load(f)
    for r in recs:
        # a record whose only failures are missing pins may add them
        if r.get("trace") != 0 or r.get("errors") or any(
                UNPINNED not in v for v in r.get("check_failures", [])):
            continue
        got = [[c["generated"], c["fetched"], c["new_links"]]
               for c in r["cycles"]]
        slot = pinned.setdefault(r["workload"], {})
        old = slot.get(str(r["variant"]))
        if old is not None and old[:len(got)] != got[:len(old)]:
            raise SystemExit(f"{r['workload']} input variant {r['variant']}: "
                             f"counts {got} disagree with pinned {old}")
        slot[str(r["variant"])] = got if old is None or len(got) > len(old) \
            else old
    # one line per seed, seeds in numeric order
    blocks = []
    for wl in sorted(pinned):
        seeds = sorted(pinned[wl].items(), key=lambda kv: int(kv[0]))
        rows = ",\n".join(f'  "{k}": {json.dumps(v)}' for k, v in seeds)
        blocks.append(f' "{wl}": {{\n{rows}\n }}')
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(blocks) + "\n}\n")
    return pinned


def main(argv: list[str]) -> int:
    if len(argv) < 2 or argv[0] not in ("summary", "compare", "pin"):
        print(__doc__, file=sys.stderr)
        return 2
    cmd, files = argv[0], argv[1:]
    sets = [load(p) for p in files]
    stamps = {machine(r) for recs in sets for r in recs}
    if cmd != "pin" and len(stamps) > 1:
        print(f"refusing to mix records from different machines: "
              f"{sorted(map(str, stamps))}", file=sys.stderr)
        return 2
    if cmd == "summary":
        print(json.dumps(summary([r for recs in sets for r in recs]),
                         indent=1))
    elif cmd == "compare":
        if len(sets) != 2:
            print(__doc__, file=sys.stderr)
            return 2
        print(json.dumps(compare(*sets), indent=1))
    else:
        pin([r for p in files for r in load(p)],
            os.path.join(HERE, "pinned.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
