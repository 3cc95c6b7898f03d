#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark with sbt when the sources changed
(perfbench/build.sbt), generates the workload's inputs from the seed, runs
the workload in a fresh JVM launched with the flags the library's build.sbt
gives `run` (heap: half of MemTotal, capped at 8g, via its SPARK_DRIVER_MEM
knob), checks the outputs, and prints the run record followed by the metric
line. Everything the run writes lives under .perfbench_run/ in the checkout
and is deleted before exit. Exit status is non-zero when a check fails.

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (spans and counters from a traced run).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_fleet", "relational_lanes")
LAUNCH = os.path.join(HERE, "target", "launch")
DEADLINE_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: library and benchmark sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """(classpath, jvm flags) of the current sources, building if stale."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: library sources not found next to perfbench/")
    stamp = source_stamp()
    stamp_file = os.path.join(LAUNCH, "stamp.txt")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        log("building (sbt exportLaunch)")
        subprocess.run(["sbt", "-batch", "exportLaunch"], cwd=HERE, check=True,
                       stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=850,
                       env={**os.environ, "COURSIER_MODE": "offline"})
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(LAUNCH, "jvm-flags.txt")) as f:
        flags = [l.strip() for l in f if l.strip()]
    return classpath, flags


def host():
    mem_kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    heap_mb = min(mem_kb // 2 // 1024, 8192)
    return {"nproc": cores, "mem_total_kb": mem_kb, "heap_mb": heap_mb}


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def make_inputs(workload, seed, data):
    """Write the workload's inputs; return the expected ETL reports or None."""
    if workload == "etl_fleet":
        manifest, expected = gen.etl_fleet(os.path.join(data, "fleet"), seed)
        with open(os.path.join(data, "manifest.tsv"), "w") as f:
            for station, date, path in manifest["csv"]:
                f.write(f"{station}\t{date}\t{path}\n")
            f.write(f"json\t{manifest['json']}\n")
        return expected
    gen.tables(data)
    return None


def etl_check(expected, observed):
    """Compare the pipeline's reports with the generator's expectations."""
    if observed is None:
        return {"name": "etl.expected_reports", "ok": False, "detail": "no result"}
    want = {
        "rows_written": expected["rows"], "reconciled": True, "rows": expected["rows"],
        "post_rows": expected["rows"], "dup_by_date": expected["dup_by_date"],
        "dup_by_date_station": expected["dup_by_date_station"],
        "min_date": expected["min_date"], "max_date": expected["max_date"],
        "anomalies": expected["anomalies"], "nulls": expected["nulls"],
        "pre_nulls": {**{c: 0 for c in ("date_heure_utc", "id_station",
                                        "source_donnees")}, **expected["nulls"]},
    }
    diff = {k: (observed.get(k), v) for k, v in want.items() if observed.get(k) != v}
    return {"name": "etl.expected_reports", "ok": not diff,
            "detail": json.dumps(diff) if diff else
            f"{expected['injected_anomalies']} anomalies, "
            f"{expected['injected_nulls']} nulls injected and found"}


def metric_line(spec, rec, trace, h, start_us):
    """The metrics of BENCHMARK.json for this run, from the JVM's record."""
    if not trace:
        values = {
            "setup_s": (rec["first_timed_epoch_us"] - start_us) / 1e6,
            "pass_s": stats.median(rec["passes"]),
            "write_amp": rec["write_amp"],
        }
        names = spec["end_to_end"]
    else:
        values = layers(rec, h)
        names = spec["per_layer"]
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names}


def layers(rec, h):
    """Every per-layer value of a traced run."""
    values = dict(rec["layers"])
    for op, secs in rec["op_samples_s"].items():
        if op.startswith("lane."):
            values[f"{op}_s"] = stats.median(secs)
    values["trace.overhead_s"] = (stats.median(rec["traced_passes"])
                                  - stats.median(rec["passes"]))
    values["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    ops = [ms for _, ms in rec["ops_ms"]]
    values["latency.ops"] = len(ops)
    values["latency.op_p50_ms"] = stats.median(ops)
    t = stats.tail(ops)
    if t:
        values["latency.op_tail_ms"], values["latency.op_tail_pct"] = t
    wall = values.get("op.wall_s", 0.0)
    if wall:
        values["exec.busy_ratio"] = values.get("exec.task_s", 0.0) / (wall * h["nproc"])
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="also write the traced run's spans here")
    ap.add_argument("--record-goldens", action="store_true",
                    help="print lane fingerprints as GOLDEN lines on stderr")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath, flags = build()
    start_us = time.time_ns() // 1000   # set-up clock: the build is not set-up
    h = host()
    scratch = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
    child = None
    # a stop request unwinds through the `finally` below, which ends the JVM
    # and deletes the scratch root
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: sys.exit(3))

    try:
        data = os.path.join(scratch, "data")
        for d in ("data", "tmp", "local", "warehouse"):
            os.makedirs(os.path.join(scratch, d))
        load0, cpu0 = loadavg(), cpu_times()
        expected = make_inputs(a.workload, a.seed, data)
        gen_s = time.time() - start_us / 1e6
        jvm = [f"-Xmx{h['heap_mb']}m" if f.startswith("-Xmx") else f for f in flags]
        out = os.path.join(scratch, "record.json")
        cmd = ["java", *jvm, f"-Djava.io.tmpdir={scratch}/tmp", "-cp", classpath,
               "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
               "--scratch", scratch, "--out", out, "--cores", str(h["nproc"]),
               "--goldens", os.path.join(HERE, "goldens.tsv"),
               "--record-goldens", "1" if a.record_goldens else "0"]
        child = subprocess.Popen(cmd, cwd=scratch, stdout=sys.stderr,
                                 stdin=subprocess.DEVNULL)
        left = DEADLINE_S - (time.time_ns() // 1000 - start_us) / 1e6
        try:
            code = child.wait(timeout=max(left, 1))
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
            raise SystemExit("perfbench: JVM exceeded the run deadline")
        if code != 0:
            raise SystemExit(f"perfbench: JVM exited with {code}")
        with open(out) as f:
            rec = json.load(f)
        cpu1 = cpu_times()
        checks = list(rec["checks"])
        if expected is not None:
            checks.append(etl_check(expected, rec["workload_record"].get("observed")))
        failed = rec["failed"] + sum(not c["ok"] for c in checks[len(rec["checks"]):])
        attempted = rec["attempted"] + len(checks) - len(rec["checks"])
        if a.spans_out:
            with open(a.spans_out, "w") as f:
                json.dump(rec["spans"], f)
        metrics = metric_line(spec, rec, a.trace == 1, h, start_us)
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "host": {**h, "xmx": f"{h['heap_mb']}m", "loadavg_start": load0,
                     "loadavg_end": loadavg(),
                     "cpu_steal_pct": 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])},
            "git_sha": git_sha(), "java_version": rec["java_version"],
            "spark_version": rec["spark_version"], "jvm_args": rec["jvm_args"],
            "spark_conf": rec["spark_conf"], "passes": rec["passes"],
            "pass_quartiles_s": stats.quartiles(rec["passes"]),
            "traced_passes": rec["traced_passes"], "ops": len(rec["ops_ms"]),
            "setup_phases_s": {"inputs": gen_s, **rec["setup_phases_s"]},
            "checks": checks, "errors": rec["errors"],
            "self_time_s": stats.self_times(rec["spans"]),
            "layers": layers(rec, h) if a.trace else {},
            "spans": len(rec["spans"]), "workload_record": rec["workload_record"],
        }
        print(json.dumps({"record": record}))
        correct = failed == 0 and all(c["ok"] for c in checks)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        for c in checks:
            if not c["ok"]:
                log(f"check failed: {c['name']}: {c['detail']}")
        return 0 if correct else 1
    finally:
        if child is not None and child.poll() is None:
            child.kill()
            child.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
