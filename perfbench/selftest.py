#!/usr/bin/env python3
"""Planted-fault test of the benchmark's correctness checks.

  python3 perfbench/selftest.py

Run from the root of a checkout. Filter checks (in the benchmark JVM, at 800
files): the dedup pipeline's output must equal the quadratic reference
ReferenceOracle.labelCorpus, pass every check, and fail them once a verdict
is flipped, a scrubbed byte changed, a near_dup added or removed, or a
lineage count broken. DQ checks: one dq_batch job must pass the DuckDB
recomputation, and fail it once any metric value is off by one or a check
status flipped. Exits 0 only if every planted fault was caught.
"""
import copy
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import dq  # noqa: E402
import run  # noqa: E402


def main() -> None:
    classes = build.build()
    data = run.DATA / (run.ROOT / "classes.stamp").read_text()[:16]
    run.jvm(classes, "selftest", run.ROOT / "logs" / "selftest.log", 900, data=data.resolve())
    for line in (run.ROOT / "logs" / "selftest.log").read_text().splitlines():
        if line.startswith("selftest:"):
            print(" ", line)

    seed = 1
    inputs = run.inputs_dir(data, "dq_batch", seed)
    dq.prepare(inputs, seed)
    out = (run.ROOT / "out" / "selftest-dq.json").resolve()
    out.parent.mkdir(parents=True, exist_ok=True)
    run.jvm(classes, "run", run.ROOT / "logs" / "selftest-dq.log", 170,
            workload="dq_batch", seed=seed, seconds=0, trace=0, data=data.resolve(),
            work=(run.ROOT / "work" / "selftest-dq").resolve(), out=out, launch_ns=time.time_ns())
    r = json.loads(out.read_text())
    exp = dq.prepare(inputs, seed)
    got = r["dq_results"][-1]
    clean = dq.compare(got, exp, inputs / "table")
    clean += dq.stored_matches(Path(r["last_dir"]) / "storage", got, r["dq_reference_ts"])
    if clean or r["failed_iters"]:
        raise SystemExit(f"the DQ checks reject a correct job: {clean[:5]} {r['errors'][:5]}")
    missed = []
    # exact metrics: off by one; approximate ones: just outside their bound
    outside = {"approx_orders": lambda v: v * (1 + 6 * dq.DISTINCT_RSD),
               "median_price": lambda v: v * 1.01}
    for k, v in got["metrics"].items():
        if v["value"] is None:
            continue
        bad = copy.deepcopy(got)
        bad["metrics"][k]["value"] = outside.get(k, lambda x: x + 1)(v["value"])
        if not dq.compare(bad, exp, inputs / "table"):
            missed.append(f"metric {k}")
        if not dq.stored_matches(Path(r["last_dir"]) / "storage", bad, r["dq_reference_ts"]):
            missed.append(f"stored {k}")
    for k in got["checks"]:
        bad = copy.deepcopy(got)
        bad["checks"][k] = not bad["checks"][k]
        if not dq.compare(bad, exp, inputs / "table"):
            missed.append(f"check {k} flipped")
    print(f"selftest: {len(got['metrics'])} wrong metric values (exact ones off by one, "
          f"approximate ones outside their bound) and {len(got['checks'])} flipped check "
          "statuses planted in the DQ result")
    if missed:
        raise SystemExit(f"planted faults not detected: {missed}")
    print("selftest: all planted faults detected")


if __name__ == "__main__":
    main()
