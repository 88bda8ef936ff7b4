#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

  python3 perfbench/run.py --workload <quality_filter|quality_filter_dedup|dq_batch>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark (perfbench/build.py) and each new seed first writes its inputs;
both are reused by later runs. Prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end-to-end ones, with --trace 1 its per-layer ones, and
the traced run's spans go to .bench_build/perfbench/out/. Exit code 0 only
when a result was printed. quality_filter_dedup runs too but is not in
BENCHMARK.json (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import dq  # noqa: E402

WORKLOADS = ("quality_filter", "quality_filter_dedup", "dq_batch")
ROOT = build.BUILD_DIR
DATA = ROOT / "data"
HEAP = "3g"

# The module opens build.sbt passes to forked JVMs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm(classes: Path, mode: str, log: Path, timeout: float, **kv) -> None:
    tmp = (ROOT / "tmp").resolve()
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes.resolve()}:{build.spark_jars()}/*", "perfbench.Main", mode]
    cmd += [f"{k}={v}" for k, v in dict(kv, tmp=tmp, cores=cores()).items()]
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{mode} timed out after {timeout:.0f} s; see {log}")
        except BaseException:
            # interrupted (SIGINT, or SIGTERM below): end the JVM with us
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"{mode} failed with exit code {code}; see {log}")


def inputs_dir(data: Path, workload: str, seed: int) -> Path:
    """Where the workload's inputs for `seed` live. The dq_batch inputs are
    written here, before the JVM starts; the filter corpora are written by
    the benchmark JVM itself, outside its set-up time."""
    return data / f"seed-{seed}" / workload


def metric_lists() -> tuple:
    """(end-to-end names, per-layer name -> unit) from BENCHMARK.json."""
    spec = json.loads(Path("BENCHMARK.json").read_text())
    return ([m["name"] for m in spec["end_to_end"]],
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main() -> None:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    # inputs and expected values belong to the sources that made them
    data = DATA / (ROOT / "classes.stamp").read_text()[:16]
    inputs = inputs_dir(data, args.workload, args.seed)
    if args.workload == "dq_batch":
        dq.prepare(inputs, args.seed)
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    out = (ROOT / "out" / f"{tag}.json").resolve()
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    work = (ROOT / "work" / tag).resolve()
    jvm(classes, "run", ROOT / "logs" / f"run-{tag}.log", 150,
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        data=data.resolve(), work=work, out=out, launch_ns=time.time_ns())
    r = json.loads(out.read_text())
    print(f"perfbench: op_s {r['op_s']}", file=sys.stderr)

    failed = set(r["failed_iters"])
    errors = list(r["errors"])
    if args.workload == "dq_batch":
        exp = dq.prepare(inputs, args.seed)
        for i, got in enumerate(r["dq_results"]):
            e = dq.compare(got, exp, inputs / "table")
            if i == len(r["dq_results"]) - 1:
                e += dq.stored_matches(Path(r["last_dir"]) / "storage", got, r["dq_reference_ts"])
            if e:
                errors += e[:10]
                failed.add(i)
    shutil.rmtree(work, ignore_errors=True)
    for e in errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)

    op = statistics.median(r["op_s"])
    measured = {
        "setup_s": (r["setup_s"], "s"),
        "op_s": (op, "s"),
        "rows_per_s": (r["rows"] / op, "rows/s"),
        "stored_bytes": (statistics.median(r["stored_bytes"]), "bytes"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }
    end_to_end, per_layer = metric_lists()
    if args.trace:
        measured.update({k: (v["value"], v["unit"]) for k, v in r["layers"].items()})
        # a layer this workload never calls reads 0
        names = {k: measured.get(k, (0, u)) for k, u in per_layer.items()}
    else:
        names = {k: measured[k] for k in end_to_end}
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in names.items()}
    print(json.dumps({"correct": not errors, "attempted": r["attempted"],
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
