#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the benchmark's JVM program (build.py). The run prepares its inputs from the seed,
runs the workload in one JVM (`local[4]`), checks the outputs, writes
a self-describing record to perfbench/results/, and prints every
metric with its unit, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import checks   # noqa: E402
import metrics  # noqa: E402
import plan     # noqa: E402

DEADLINE_S = 170      # a run ends within 180 s, the build excepted
HEAP = "3g"


def host_shape():
    """The host facts a comparison must match, and how the run treated
    the page cache."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True).stdout.splitlines()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1048576),
        "jdk": java[0] if java else "?",
        "spark_master": f"local[{plan.CORES}]",
        "shuffle_partitions": plan.SHUFFLE_PARTITIONS,
        "heap": HEAP,
        "arch": platform.machine(),
    }


def source_id():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=os.path.dirname(HERE),
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if head.returncode == 0:
            return {"git_commit": head.stdout.strip(), "source_digest": build.source_digest()}
    except OSError:
        pass
    return {"git_commit": None, "source_digest": build.source_digest()}


def prepare(work, workload, seed, seconds):
    cfg = plan.WORKLOADS[workload]
    sched = plan.schedule(workload, seed, seconds)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "files.tsv"), "w") as f:
        f.writelines(f"{n}\t{g}\t{t}\t{d!r}\n" for n, g, t, d in sched)
    with open(os.path.join(work, "lookups.txt"), "w") as f:
        f.writelines(f"{k}\n" for k in plan.lookup_keys(workload, seed, cfg["standing_txns"]))
    props = {
        "cores": plan.CORES, "shuffle_partitions": plan.SHUFFLE_PARTITIONS,
        "setup_reps": plan.SETUP_REPS, "seconds": seconds,
        "standing_txns": cfg["standing_txns"], "min_rounds": cfg["min_rounds"],
        "warmup_passes": cfg.get("warmup_passes", 0),
        "entries": ",".join(cfg.get("entries", [])),
    }
    with open(os.path.join(work, "config.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in props.items())
    if workload == "analytics_mix":
        import datagen
        datagen.generate(os.path.join(work, "data"), seed)
    return sched


def run_jvm(cp, work, workload, trace, timeout):
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = build.java_command(cp, HEAP, tmp) + [
        "graftbench.Main", "--workload", workload, "--work", work, "--trace", str(trace)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            # on a timeout, or when this process is itself stopped
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(plan.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through the `finally` blocks, which end the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        sched = prepare(work, a.workload, a.seed, a.seconds)
        prep_s = time.monotonic() - t0
        code = run_jvm(cp, work, a.workload, a.trace, DEADLINE_S - (time.monotonic() - t0))
        raw_path = os.path.join(work, "raw.json")
        if code != 0 or not os.path.exists(raw_path):
            tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
            print(f"[perfbench] JVM {'timed out' if code is None else f'exited {code}'}\n{tail}",
                  file=sys.stderr)
            return 1
        raw = json.load(open(raw_path))
        tally = checks.Tally()
        checks.run_checks(a.workload, raw, work, sched, tally)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = plan.measured_files(a.workload, sched)
    attempted = raw["ops"]["attempted"] + tally.attempted
    failed = raw["ops"]["failed"] + tally.failed
    e2e = metrics.end_to_end(a.workload, raw, measured)
    extra = metrics.details(a.workload, raw, measured, sched)
    extra["input_prep_s"] = (prep_s, "s")
    extra["ops_failed_ratio"] = (failed / attempted, "ratio")
    shown = metrics.per_layer(a.workload, raw, sched) if a.trace else e2e
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": host_shape(), "page_cache": "shared, not dropped between runs",
        **source_id(),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "details": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "per_layer": ({k: {"value": v, "unit": u} for k, (v, u) in shown.items()}
                      if a.trace else None),
        "samples": {"op_s": metrics.op_samples(a.workload, raw, measured),
                    "lookup_s": [l["s"] for l in raw.get("lookups", [])],
                    "entry_s": raw.get("entry_s")},
        "attempted": attempted, "failed": failed,
        "errors": raw["ops"]["errors"] + tally.messages,
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)

    for msg in record["errors"]:
        print(f"FAILED {msg}")
    for k, (v, u) in {**shown, **extra}.items():
        print(f"{k:40s} {fmt(v) if not isinstance(v, list) else ' '.join(map(fmt, v)):>14s} {u}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
