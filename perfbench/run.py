#!/usr/bin/env python3
"""The inundation engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <flood_forecast|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
(cached under `.bench_build/`), generates the inputs from the seed, runs the
workload in one JVM against local[<cores>], checks the outputs, and prints one
JSON object as the last line of stdout: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import parity  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("flood_forecast", "query_mix")
# sizes: flood = the sf0.1-sized lineitem table (600k pages before the
# explode); the query mix runs at sf0.01, the scale its oracle rows are
# defined at
FLOOD_SF, MIX_SF = 0.1, 0.01
GEN_REPEATS = 3
JVM_BUDGET_S = 170

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def host_fit():
    """JVM heap = half of MemTotal clamped to 2-8 GiB; cores = usable CPUs."""
    mem_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    heap_g = min(8, max(2, mem_kb // 2097152))
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return {"heap": f"{heap_g}g", "cores": int(cores), "mem_total_gib": round(mem_kb / 1048576, 1)}


def steal_ticks():
    """(stolen, total) CPU ticks of the machine since boot: the time a
    hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def inputs(workload, trace, data):
    """[(dir, sf, tables)] the workload reads."""
    mix = (os.path.join(data, "mix"), MIX_SF, gen.ALL_TABLES)
    if workload == "query_mix":
        return [mix]
    # a traced run also probes the query and dedup layers on sf0.01
    return [(os.path.join(data, "flood"), FLOOD_SF, ("lineitem",))] + ([mix] if trace else [])


def end_to_end(raw, workload, launch_ms, gen_s):
    """The end-to-end metrics of one untraced run, from its raw samples."""
    ops, lists, rec = raw["ops"], raw["lists"], raw["rec"]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["s"])
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    if workload == "flood_forecast":
        pages = [o["pages"] / o["s"] for o in ops]
    else:
        pages = []
        for p in passes.values():
            pq = [o for o in p if o["pages"] > 0]
            pages.append(sum(o["pages"] for o in pq) / sum(o["s"] for o in pq))
    setup = ((rec["first_timed_ms"] - launch_ms) / 1000.0 - rec.get("setup_checks_s", 0.0)
             - sum(gen_s) + stats.median(gen_s))
    return {
        "pages_per_s": stats.median(pages),
        # the median query's median: robust to one slow sample of a query
        # next to the middle of the latency order
        "query_p50_s": stats.median([stats.median(v) for v in by_kind.values()]),
        "query_tail_s": stats.slowest_median(by_kind.values()),
        "mix_wall_s": stats.median(lists["pass_s"]),
        "setup_s": setup,
        "peak_heap_mb": max(lists["heap_mb"]),
    }


def output_failures(raw, workload):
    """Failed output checks, by name (empty when all pass)."""
    bad = [f"{op}: repetitions disagree {raw['fingerprints'][op]}"
           for op in stats.disagreeing_ops(raw["fingerprints"])]
    if workload == "flood_forecast":
        rec = raw["rec"]
        # pages in lake catchments get no stage, so the map drops them
        if rec["mosaic_pages"] != rec["pages_per_map"] - rec["lake_pages"]:
            bad.append(f"forecast_map: sum(n_points) {rec['mosaic_pages']:.0f} != pages "
                       f"{rec['pages_per_map']:.0f} - lake pages {rec['lake_pages']:.0f}")
        for c in raw["fingerprints"].get("forecast_map", []):
            if sum(c) != rec["cells"]:
                bad.append(f"forecast_map: agreement classes {c} do not sum to cells {rec['cells']:.0f}")
    return bad


def run_jvm(cp, fit, args, data, out, deadline):
    java = ["java", f"-Xms{fit['heap']}", f"-Xmx{fit['heap']}", "-XX:-UsePerfData",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=32",
            f"-Djava.io.tmpdir={out}/tmp"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Harness",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data, "--out", out, "--cores", str(fit["cores"])]
    os.makedirs(f"{out}/tmp", exist_ok=True)
    # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch in the tree
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{out}/spark-local")
    proc = subprocess.Popen(java, stdout=sys.stderr, stderr=sys.stderr, cwd=out, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("harness exceeded its time budget; stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = declared()
    cp = build.build()
    t_start = time.time()
    fit = host_fit()
    log(f"host-fit heap={fit['heap']} cores={fit['cores']} mem_total={fit['mem_total_gib']}GiB "
        f"master=local[{fit['cores']}]")
    runs = os.path.join(build.build_dir(), "runs")
    shutil.rmtree(runs, ignore_errors=True)
    tag = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'plain'}"
    work = os.path.join(runs, tag)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)

    # set-up starts here; input generation is repeated for a median
    launch_ms = int(time.time() * 1000)
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.time()
        for d, sf, tables in inputs(args.workload, args.trace, data):
            gen.write_tables(d, sf, args.seed, tables)
        gen_s.append(time.time() - t0)

    steal0 = steal_ticks()
    code = run_jvm(cp, fit, args, data, out, t_start + JVM_BUDGET_S)
    steal1 = steal_ticks()
    raw_path = os.path.join(out, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        log(f"harness failed (exit {code}); no result")
        sys.exit(1)
    with open(raw_path) as fh:
        raw = json.load(fh)

    log(f"raw rec={raw['rec']} lists={raw['lists']} gen_s={gen_s}")
    log("ops " + " ".join(f"{o['kind']}={o['s']:.2f}" for o in raw["ops"]))
    failures = list(raw["failures"]) + output_failures(raw, args.workload)
    attempted = raw["attempted"]
    if args.workload == "query_mix":
        for q, why in parity.check(os.path.join(data, "mix"), os.path.join(out, "parity")).items():
            attempted += 1
            if why:
                failures.append(f"oracle parity {q}: {why}")
    for f in failures:
        log(f"FAILED {f}")

    if args.trace:
        spans = os.path.join(out, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build.build_dir(), "trace"), exist_ok=True)
            shutil.copy(spans, os.path.join(build.build_dir(), "trace", f"{tag}.jsonl"))
        values, specs = raw["layers"], bench["per_layer"]
    else:
        values, specs = end_to_end(raw, args.workload, launch_ms, gen_s), bench["end_to_end"]
    missing = [m["name"] for m in specs if values.get(m["name"]) is None]
    if missing:
        log(f"metrics not measured: {missing}; no result")
        sys.exit(1)
    shutil.rmtree(work, ignore_errors=True)
    failed = min(attempted, len(failures))
    print(f"perfbench host-fit: heap={fit['heap']} cores={fit['cores']} "
          f"mem_total={fit['mem_total_gib']}GiB workload={args.workload} seed={args.seed} "
          f"timed_ops={len(raw['ops'])} passes={len(raw['lists'].get('pass_s', []))} "
          f"cpu_stolen={(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.3f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs},
    }))


if __name__ == "__main__":
    main()
