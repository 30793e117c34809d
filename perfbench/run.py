#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload nhs_panels --seed 1 --seconds 5 --trace 0

Builds the harness if needed (perfbench/build.py), stages the seeded inputs
(three times: set-up time is the median), launches one JVM with
`local[nproc]`, times one pass, in the fresh JVM, as a batch run of the
pipeline pays it (passes that follow, while --seconds has not elapsed, are
recorded as warm passes), checks the outputs, and prints the run record
then, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end-to-end metrics, with
`--trace 1` its per-layer metrics (spans in perfbench/.runs/<workload>/
work/spans.jsonl). Exits non-zero when a step or an output check fails.
Everything a run writes stays under perfbench/.runs/<workload>, wiped at
the start of the run; each run's result is also appended to
perfbench/.runs/history.jsonl (the input of compare.py).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "gen"))

import build  # noqa: E402

WORKLOADS = ["nhs_panels", "corpus_ops", "stream_stores"]
HEAP = "2g"          # driver heap; driver and executors share the one JVM
STREAM_BATCHES = 2   # micro-batches per store family
SETUP_REPEATS = 3    # input staging runs per run; set-up reports the median
RUN_LIMIT_S = 175    # a run must end well within the 180 s budget
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def stage_inputs(workload, seed, inputs, size):
    """Write the workload's seeded inputs; returns their sizes."""
    import nhs_corpus
    import sample_tables
    import stream_slices
    if workload == "nhs_panels":
        m = nhs_corpus.generate(seed, inputs, size)
        return {k: v for k, v in m.items() if k != "sums"}
    if workload == "corpus_ops":
        return sample_tables.sample(seed, inputs)
    tables = os.path.join(inputs, "tables")
    s = sample_tables.sample(seed, tables)
    m = stream_slices.stage(seed, tables, os.path.join(inputs, "streams"), STREAM_BATCHES)
    return {"tables": s["rows"], "streams": m}


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["bench", "smoke"], default="bench",
                    help="nhs_panels corpus size (smoke: the self-check's tiny corpus)")
    a = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, jars = build.build()

    nproc = len(os.sched_getaffinity(0))
    load_start = loadavg()
    steal_start = cpu_ticks()
    run = os.path.join(HERE, ".runs", a.workload)
    shutil.rmtree(run, ignore_errors=True)
    inputs, work = os.path.join(run, "inputs"), os.path.join(run, "work")
    os.makedirs(os.path.join(work, "tmp"))

    gen_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(inputs, ignore_errors=True)
        t0 = time.monotonic()
        sizes = stage_inputs(a.workload, a.seed, inputs, a.size)
        gen_s.append(time.monotonic() - t0)

    result_path = os.path.join(run, "result.json")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--inputs", inputs, "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(nproc), "--out", result_path])
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    with open(os.path.join(run, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            proc.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"run: {a.workload} exceeded {RUN_LIMIT_S} s (log: {run}/jvm.log)")
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.exit(f"run: JVM exited {proc.returncode} (log: {run}/jvm.log)")
    with open(result_path) as f:
        r = json.load(f)

    checks = [(c["name"], c["ok"], c["detail"]) for c in r["checks"]]
    if a.workload == "corpus_ops":
        import oracle
        checks += oracle.compare(os.path.join(work, "outputs"), inputs)

    # the metrics describe the first pass, in a fresh JVM, as a batch run
    # of the pipeline pays it; later passes go to the run record only
    first = r["passes"][0]
    job_s = first["wall_s"]
    step_ms = [s["ms"] for s in first["steps"] if s["ok"]]
    if a.workload == "stream_stores":
        rows_per_s = first["extra"]["events"] / first["extra"]["ingest_s"]
    else:
        rows_per_s = r["input_rows"] / job_s
    setup_s = statistics.median(gen_s) + r["setup_s"]
    values = {
        "setup_s": setup_s, "job_s": job_s, "input_rows_per_s": rows_per_s,
        "step_ms.p50": quantile(step_ms, 0.5), "step_ms.p90": quantile(step_ms, 0.9),
    }
    if a.trace:
        values = {m["name"]: first["layers"].get(m["name"], 0.0) for m in spec["per_layer"]}
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    failed_checks = [c for c in checks if not c[1]]
    for name, _, detail in failed_checks:
        print(f"check failed: {name}: {detail}", file=sys.stderr)
    load_end = loadavg()
    steal_end = cpu_ticks()
    steal = (steal_end[0] - steal_start[0]) / max(steal_end[1] - steal_start[1], 1)
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "inputs": sizes,
        "cores": nproc, "max_heap_mb": r["max_heap_mb"], "peak_rss_mb": r["peak_rss_mb"],
        "loadavg_start": load_start, "loadavg_end": load_end,
        "contended": max(load_start, load_end) > nproc,
        "cpu_steal_share": steal,
        "setup": {"staging_s": gen_s, "jvm_session_s": r["session_s"],
                  "jvm_setup_s": r["setup_s"]},
        "job_s": job_s, "warm_passes_s": [p["wall_s"] for p in r["passes"][1:]],
        "checks": {"run": len(checks), "failed": [c[0] for c in failed_checks]},
    }
    with open(os.path.join(run, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    attempted = r["steps_attempted"] + len(checks)
    failed = r["steps_failed"] + len(failed_checks)
    result = {"correct": not failed_checks, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    # every run is also appended to the run history compare.py reads
    with open(os.path.join(HERE, ".runs", "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "result": result, "record": record}) + "\n")
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
