"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload serve|registry \
        --seed N --seconds S --trace 0|1 [--sf F]

Builds the engine and the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness in a
fresh JVM and prints every metric it measured, one per line, then, as the
last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the `end_to_end` metrics of BENCHMARK.json with `--trace 0`,
its `per_layer` metrics with `--trace 1`. The full result, with its
provenance, is written under .bench_build/results/.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing but results is written outside .bench_build

import build  # noqa: E402
import gen  # noqa: E402

CPUS = 4  # local[4]: the machine size the workloads were sized on (4 vCPUs)
HEAP = "3g"
DEADLINE_S = 170  # the harness is stopped after this, so a run ends within 180 s

# Workload parameters. They are recorded with every result.
WORKLOADS = {
    "serve": {
        "why": "the reference's REST surface over the memory-sink hot table and the cold "
               "parquet, then day-batches ingested through the files sink beside a client",
        "sf": 0.1, "setup_reps": 3,
        # read phase: open loop, whole rounds of the 16 (endpoint, path) calls
        "rate": 1.6, "workers": 3,
        # ingest phase: one day-batch lands per cadence tick; one client probes
        "cadence_s": 0.2, "ingest_rate": 1.2, "late_share": 0.02,
    },
    "registry": {
        "why": "batch registry queries: compute, shuffle, codegen and loops, cold then warm",
        "sf": 0.1,
        # the first query, by name, of each (module, family) group that is
        # cheapest in graft.Bench's last envelope; see perfbench/README.md
        "queries": ",".join([
            "asof_purchase_view", "ann_lsh_topk", "chunk_sliding", "day_average",
            "dd_exact", "mm_binary_stats", "q6_revenue_delta", "q_conditional_aggs",
            "q_grouping_sets", "q_rollup_parts", "sample_weighted_priority",
            "sketch_kmv_distinct", "stream_dedup_screen", "t_levenshtein_sources"]),
    },
}

# -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss16m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def provenance(digest, seed, workload, params, data_dir):
    sha = None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    mem = None
    try:
        with open("/proc/meminfo") as fh:
            mem = next(l.split(":")[1].strip() for l in fh if l.startswith("MemTotal"))
    except OSError:
        pass
    return {"git_sha": sha, "source_sha256": digest, "nproc": os.cpu_count(),
            "mem_total": mem, "machine": platform.machine(), "cpus_used": CPUS,
            "heap": HEAP, "seed": seed, "workload": workload, "params": params,
            "sf_dir": os.path.relpath(data_dir, ROOT)}


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat (None elsewhere)."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def benchmark_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def main():
    ap = argparse.ArgumentParser(description="Run one workload of the graft benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: the workload's)")
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt one answer before the correctness checks (harness tests)")
    a = ap.parse_args()
    end_to_end, per_layer = benchmark_metrics()
    params = dict(WORKLOADS[a.workload])
    params.pop("why")
    if a.sf:
        params["sf"] = a.sf

    os.makedirs(BUILD, exist_ok=True)
    classes, digest = build.build(BUILD)
    t_start = time.monotonic()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    batches = os.path.join(run_dir, "batches") if a.workload == "serve" else None
    tables = ["events"] if a.workload != "registry" else None
    info = gen.generate(data, params["sf"], a.seed, tables, batches,
                        params.get("late_share", 0.02))
    args = {"workload": a.workload, "data": data, "work": os.path.join(run_dir, "work"),
            "out": os.path.join(run_dir, "result.json"), "seconds": a.seconds,
            "trace": a.trace, "seed": a.seed, "cpus": CPUS,
            "locations": info["sizes"]["locations"], "events": info["sizes"]["events"]}
    args.update({k: v for k, v in params.items() if k not in ("sf", "late_share")})
    if a.perturb:
        args["perturb"] = 1
    if batches:
        args.update(batches=batches, batch_rows=",".join(map(str, info["batch_rows"])))
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir}", "-cp",
        os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        "graftbench.Main"] + [x for k, v in args.items() for x in (f"--{k}", str(v))]
    os.makedirs(os.path.join(run_dir, "work"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    ticks0 = cpu_ticks()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(args["out"]):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness failed ({code})")
    with open(args["out"]) as fh:
        res = json.load(fh)
    res["provenance"] = provenance(digest, a.seed, a.workload, params, data)
    res["provenance"].update(spark_version=res.pop("spark_version"),
                             java_version=res.pop("java_version"), data=info)
    res["provenance"]["conf"] = res.pop("conf")
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests while the harness ran
        res["provenance"]["steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    metrics = res["metrics"]

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{a.workload}-seed{a.seed}")
    if a.trace:
        try:
            with open(base + "-trace0.json") as fh:
                plain = json.load(fh)["metrics"]
            res["tracing_overhead"] = {
                n: {"traced": metrics[n]["value"], "untraced": plain[n]["value"],
                    "diff": metrics[n]["value"] - plain[n]["value"], "unit": metrics[n]["unit"]}
                for n in end_to_end if n in metrics and n in plain}
        except (OSError, KeyError, ValueError):
            res["tracing_overhead"] = None
        shutil.copy(os.path.join(run_dir, "result.spans.jsonl"), base + "-trace1.spans.jsonl")
    with open(base + f"-trace{a.trace}.json", "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = all(c["ok"] for c in res["checks"]) and bool(res["checks"])
    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for f in res["failures"]:
        print(f"failed {f}")
    for n, m in sorted(metrics.items()):
        print(f"{n} {m['value']} {m['unit']}")
    if "steal_pct" in res["provenance"]:
        print(f"host.steal_pct {res['provenance']['steal_pct']} %")
    for n, o in (res.get("tracing_overhead") or {}).items():
        print(f"tracing_overhead.{n} {o['diff']} {o['unit']}")
    wanted = per_layer if a.trace else end_to_end
    missing = [n for n in wanted if n not in metrics or metrics[n]["value"] is None]
    if missing:
        raise SystemExit(f"metrics not measured: {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {n: metrics[n] for n in wanted}}))


if __name__ == "__main__":
    main()
