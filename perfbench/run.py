#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload cdc_lake --seed 1 --seconds 10 --trace 0

Builds the engine from source (perfbench/build.py), runs one workload in
one JVM at local[4] (perfbench/src/perfbench/Main.scala), checks the
program's outputs, and prints every metric by name with its unit; the
last line of standard output is one JSON object. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones and
writes the spans to .bench_run/traces/. Exits non-zero when a
correctness check fails or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("cdc_lake", "query_mix")
RUN_DIR = ".bench_run"
RUN_LIMIT_S = 175
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm_command(args, work, out):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", build.classpath(), "perfbench.Main", args.workload, str(args.seed),
                  str(args.seconds), str(args.trace), work, out]


def cpu_times():
    """(steal, total) jiffies of the whole machine, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, IndexError, ValueError):
        return None


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        declared = json.load(fh)
    wanted = declared["per_layer"] if args.trace else declared["end_to_end"]

    built = build.build()
    # a run that compiled may take longer; the JVM then gets the full budget
    budget = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - t_start)
    work = os.path.abspath(os.path.join(RUN_DIR, f"{args.workload}-s{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    cpu0 = cpu_times()
    try:
        with open(log, "w") as lf:
            rc = subprocess.run(jvm_command(args, work, out), stdout=lf, stderr=subprocess.STDOUT,
                                timeout=budget).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        sys.stderr.write(f"\nperfbench: the {args.workload} JVM ended with {rc}\n")
        return 1
    with open(log, errors="replace") as fh:  # the JVM's phase timings
        sys.stderr.writelines(line for line in fh if line.startswith("[perfbench]"))
    with open(out) as fh:
        raw = json.load(fh)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # CPU time the hypervisor gave to other guests: slow runs show it
        print(f"# cpu steal during the run: {100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.1f} %")

    checks = dict(raw["checks"])
    if args.workload == "query_mix":
        import oracle
        ok, detail = oracle.compare(os.path.join(work, "oracle"))
        checks["query_results_match_duckdb"] = {"ok": ok, "detail": detail}
    correct = all(c["ok"] for c in checks.values())
    attempted = sum(p["attempted"] for p in raw["phases"])
    failed = sum(p["failed"] for p in raw["phases"])

    if args.trace:
        queries = [m["name"][len("query."):-len("_s")] for m in wanted
                   if m["name"].startswith("query.q")]
        values = metrics.per_layer(raw, queries)
        tdir = os.path.join(RUN_DIR, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"run_id": raw["trace"]["run_id"], "spans": raw["trace"]["spans"],
                       "span_summary": metrics.span_summary(raw["trace"]["spans"]),
                       "sql": raw["trace"]["sql"], "metrics": values}, fh)
    else:
        values = metrics.end_to_end(raw)
        phase = raw["phases"][0]
        samples = metrics.latency_samples(args.workload, phase)
        p, v = metrics.tail(samples)
        print(f"# {args.workload}: latency samples={len(samples)} "
              + (f"p{p:g}={v:.4f} s" if p else "too few samples for a tail percentile")
              + f"; warm-up {raw['warmup']['units']} units, steady={raw['warmup']['steady']}")
        print("# latency samples (s): " + " ".join(f"{x:.3f}" for x in samples))
        print("# warm-up units (s): " + " ".join(f"{x:.3f}" for x in raw["warmup"]["unit_s"]))
        print(f"# failed_frac={metrics.failed_frac(attempted, failed):.4f} "
              f"(failed={failed} of attempted={attempted})")
        print(f"# cold unit: {raw['cold_s']:.4f} s; set-ups (s, the first on a cold JVM): "
              + " ".join(f"{x:.3f}" for x in raw["setup_s"]))
    for name, c in sorted(checks.items()):
        print(f"# check {name}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")

    result = {}
    for m in wanted:
        if m["name"] not in values:
            sys.stderr.write(f"perfbench: metric {m['name']} was not measured\n")
            return 1
        result[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        print(f"# {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
