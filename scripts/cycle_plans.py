"""Physical plans one crawl cycle executes, from Spark's event log.

    python scripts/cycle_plans.py --workload touch_5pct --seed 3 --out plans/rNN

Run from the repository root.  Sets up a perfbench workload exactly as
``perfbench/run.py`` does (same box sizing, driver config and inputs),
runs one cycle with the event log on, and reads every SQL execution's
final physical plan back from the log.  Prints one line per execution
(plan lines, execution id, ``cycle:<phase>`` job label) and the total,
and writes each execution's plan to ``OUT/exec<id>.txt``.  Scratch files
live under ``.perfbench_work/`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys


def plans_from_event_log(path: str) -> dict[int, dict]:
    """Execution id → {"label", "plan"}; an adaptive update replaces the
    plan, so the last one seen is the plan that ran."""
    out: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev.endswith("SparkListenerSQLExecutionStart"):
                out[e["executionId"]] = {
                    "label": e.get("description"),
                    "plan": e.get("physicalPlanDescription", "")}
            elif (ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate")
                  and e["executionId"] in out):
                out[e["executionId"]]["plan"] = e.get(
                    "physicalPlanDescription", "")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="touch_5pct")
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    from perfbench import machine, run as R, workloads as W

    cores = machine.nproc()
    box = machine.size_box(cores, machine.mem_total_mb())
    work = os.path.join(root, ".perfbench_work", f"plans-{os.getpid()}")
    shape = W.SHAPES[args.workload]
    spark = R._session(box, work, args.workload, trace=True)
    try:
        driver = R._driver(spark, shape, os.path.join(work, "crawl"))
        R._seed_inputs(spark, driver, shape, W.input_seed(args.seed))
        driver._load_or_build_blooms()
        R._warm_workers(spark, cores)
        driver.run_cycle(0, W.T0 + 1000)
    finally:
        spark.stop()
    execs = plans_from_event_log(glob.glob(os.path.join(work, "eventlog",
                                                        "*"))[0])
    shutil.rmtree(work, ignore_errors=True)

    sizes = sorted(((len(v["plan"].splitlines()), k, v["label"])
                    for k, v in execs.items()), reverse=True)
    for n, k, label in sizes:
        print(f"{n:7d}  exec {k:3d}  {label}")
    print(f"{sum(n for n, _, _ in sizes):7d}  total over {len(sizes)} "
          "executions")
    os.makedirs(args.out, exist_ok=True)
    for k, v in execs.items():
        with open(os.path.join(args.out, f"exec{k}.txt"), "w") as f:
            f.write(v["plan"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
