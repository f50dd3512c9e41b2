#!/usr/bin/env python3
"""Runs one benchmark workload, or all of them, and prints the metrics.

    python3 perfbench/run.py --workload read_api --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

A single-workload run prints a summary line, a detail line (host, load,
failures, workload-specific metric names) and, last, one JSON object with
the keys correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. `--workload all` runs
every workload untraced and traced on one seed and prints every metric by
name with its unit plus the tracing overhead. Each run's full record is
appended to perfbench/.work/results.jsonl (or --results) for compare.py.
See perfbench/README.md.
"""
import argparse
import concurrent.futures
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import build, datagen, metrics, oracle, stats  # noqa: E402

WORKLOADS = ["read_api", "alert_stream"]
# scale factor of read_api's generated tables (0.01 = 10k events and 60k
# lineitem rows); alert_stream generates its events in the stream and reads
# no table
SCALE = 0.01
# a run whose 1-minute load average at start exceeds this multiple of the
# core count is flagged, so that a comparison can set it aside; runs of
# this benchmark alone, back to back, leave a load of about 1-1.75 x cores
LOAD_LIMIT_PER_CPU = 2.0
# a run whose steal share (cpu_ticks) exceeds this is flagged too: runs
# at 0.025-0.15 took 8-60% longer per request than runs at the usual
# 0.002-0.008, while the load average inside the machine did not change
STEAL_LIMIT = 0.02
JVM_TIMEOUT_S = 150
# set-ups per run; setup_s is their median. Two, not three, to keep the
# 48 runs of a comparison inside its time budget (see README)
SETUPS = 2
JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]
] + [
    # a fixed, pre-touched heap and the throughput collector: collection
    # pauses and request latency vary less from run to run. The heap the
    # program holds is measured inside the JVM (live_heap_mb); the resident
    # memory is pinned by this heap and only reported.
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BenchError(Exception):
    pass


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, wanted) CPU ticks of the machine since boot, from /proc/stat.
    Steal is time this virtual machine's CPUs were ready to run but the
    hypervisor ran something else; wanted is every tick but idle and
    iowait, steal included."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    steal = ticks[7] if len(ticks) > 7 else 0
    return steal, sum(ticks[:8]) - ticks[3] - ticks[4]


def host(calib_s):
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"nproc": os.cpu_count(), "cpu_model": model, "calib_s": calib_s}


def launch(cp, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Harness", *args]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        tail = open(log_path, errors="replace").read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise BenchError("harness timed out" if code is None
                         else f"harness exited with {code}")


def verdicts(raw, data_dir, work):
    """(query, result hash) -> None if equal to the oracle, else why."""
    if raw["workload"] == "alert_stream":
        tables = {"events": os.path.join(raw["events_path"], "*.parquet")}
    else:
        tables = {t: os.path.join(data_dir, f"{t}.parquet")
                  for t in ("events", "lineitem")}
    con = oracle.connect(tables, os.path.join(work, "duckdb"))
    # the checks run concurrently: DuckDB releases the interpreter lock,
    # and the alert-family oracles each replay the whole scoring fold
    with concurrent.futures.ThreadPoolExecutor(os.cpu_count()) as pool:
        found = pool.map(lambda r: oracle.check(con, raw["oracle"][r["query"]],
                                                r["path"]), raw["results"])
        return {(r["query"], r["result"]): v
                for r, v in zip(raw["results"], found)}


def run_one(workload, seed, seconds, trace):
    """Runs one workload once; returns the full result record."""
    cp = build.classpath()
    work = os.path.join(HERE, ".work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    phase = {}
    t = time.monotonic()
    try:
        args = ["--workload", workload, "--setups", str(SETUPS), "--out", work,
                "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace)]
        data = None
        if workload == "read_api":
            data = datagen.generate(os.path.join(work, "data", "setup-1"), seed, SCALE)
            # one copy per set-up, plus one for the warmup's own set-up
            copies = [data] + [shutil.copytree(data, data[:-1] + str(k))
                               for k in range(2, SETUPS + 2)]
            args += ["--data", ",".join(copies)]
            data = copies[-1]
        load0, ticks0 = loadavg(), cpu_ticks()
        phase["inputs_s"] = time.monotonic() - t
        launch(cp, work, args)
        load1, ticks1 = loadavg(), cpu_ticks()
        phase["harness_s"] = time.monotonic() - t - phase["inputs_s"]
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)
        checks = verdicts(raw, data, work)
        phase["oracle_s"] = time.monotonic() - t - phase["inputs_s"] - phase["harness_s"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, reasons, lat = metrics.accounting(raw, checks)
    e2e, named = metrics.end_to_end(raw, lat)
    limit = LOAD_LIMIT_PER_CPU * os.cpu_count()
    steal = stats.share(ticks1[0] - ticks0[0], ticks1[1] - ticks0[1])
    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "correct": failed == 0 and all(v is None for v in checks.values()),
        "attempted": attempted, "failed": failed,
        "error_rate": stats.error_rate(attempted, failed),
        "failures": reasons[:20],
        "end_to_end": e2e, "named": named,
        "layers": metrics.layers(raw) if trace else None,
        "self_ms": metrics.self_times(raw) if trace else None,
        "setup_runs_s": raw["setup_s"], "warmup_s": raw["warm_s"],
        "first_pass_s": raw.get("first_pass_s"),
        "peak_rss_mb": raw["peak_rss_mb"],
        "stream_aligned": raw.get("aligned"),
        "stream_window_first_second": raw.get("window_first_second"),
        "warm_failures": raw.get("warm_failures", []),
        "host": host(raw["calib_s"]),
        "load": {"start": load0, "end": load1, "limit": limit,
                 "steal_frac": steal, "steal_limit": STEAL_LIMIT,
                 "flagged": load0 > limit or steal > STEAL_LIMIT},
        "phase_s": phase,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def final_line(r):
    if r["trace"]:
        ms = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]}
              for k, v in r["layers"].items()}
    else:
        ms = {k: {"value": v, "unit": metrics.END_TO_END_UNITS[k]}
              for k, v in r["end_to_end"].items()}
    return {"correct": r["correct"], "attempted": r["attempted"],
            "failed": r["failed"], "metrics": ms}


def summary(r):
    named = ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in r["named"].items())
    flag = " FLAGGED" if r["load"]["flagged"] else ""
    return (f"[{r['workload']} seed={r['seed']} trace={r['trace']}] {named}, "
            f"error_rate={r['error_rate']:.4g} fraction "
            f"({r['failed']}/{r['attempted']}){flag}")


def save(r, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(r) + "\n")


def run_all(seed, seconds, results):
    for w in WORKLOADS:
        pair = {}
        for trace in (0, 1):
            r = run_one(w, seed, seconds, trace)
            save(r, results)
            pair[trace] = r
            print(summary(r), flush=True)
        for k, v in pair[1]["layers"].items():
            print(f"  {w} {k} = {v:.6g} {metrics.LAYER_UNITS[k]}")
        for k, u in metrics.END_TO_END_UNITS.items():
            d = pair[1]["end_to_end"][k] - pair[0]["end_to_end"][k]
            print(f"  {w} tracing overhead {k} = {d:+.4g} {u}")
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(HERE, ".work", "results.jsonl"))
    a = ap.parse_args(argv)
    try:
        if a.workload == "all":
            return run_all(a.seed, a.seconds, a.results)
        r = run_one(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, RuntimeError, OSError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 2
    save(r, a.results)
    print(summary(r))
    print(json.dumps({k: r[k] for k in ("host", "load", "failures", "phase_s",
                                         "peak_rss_mb",
                                         "warmup_s", "setup_runs_s",
                                         "first_pass_s", "stream_aligned",
                                         "stream_window_first_second", "self_ms")}))
    print(json.dumps(final_line(r)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
