#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON line.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the driver (perfbench/build.py), generates the
workload's inputs from the seed, starts the driver JVM (closed loop, one
client thread, local[nproc]), checks every output, and prints the
metrics. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the span file and per-op rows
are written next to the run's outputs. Human-readable lines go first;
the last line of stdout is the JSON result.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

# Input sizes. daily_load: estados interval rows (~270 bytes each) plus
# one conducta row per agent-day; bi_dashboard: star-schema scale factor
# (sf 0.01 = 60k lineitem rows), where fixed per-query cost dominates.
WORKLOADS = {
    "daily_load": {"estados_rows": 60_000},
    "bi_dashboard": {"sf": 0.01},
}
DEADLINE_S = 170       # whole run, after the build
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "op_p50_ms": "ms",
                    "op_tail_ms": "ms", "ops_per_s": "1/s",
                    "rows_per_s": "1/s"}


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_driver(workload, data, out, seconds, trace, seed, deadline):
    """Start one driver JVM and wait for it; its driver.json as a dict,
    plus `steal_frac`: the share of CPU time the host took from this VM
    while the JVM ran (the usual cause of a run that is slow
    throughout)."""
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    steal0, total0 = cpu_ticks()
    t0_ms = int(time.time() * 1000)
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={out}",
            f"-Dderby.stream.error.file={os.path.join(out, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Driver", workload, data, out,
            str(seconds), str(trace), str(seed), str(t0_ms), str(cores())])
    # spark.local.dir must stay inside the checkout; the env var would win
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=out, env=env)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"driver for {workload} ran past the deadline")
    if code != 0:
        raise SystemExit(f"driver for {workload} exited {code}; see {out}/jvm.log")
    steal1, total1 = cpu_ticks()
    with open(os.path.join(out, "driver.json")) as f:
        d = json.load(f)
    d["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return d


def generate(workload, seed, data):
    if workload == "daily_load":
        import gen_crm
        return gen_crm.make(data, seed, WORKLOADS[workload]["estados_rows"])
    import gen_star
    gen_star.write(data, seed, WORKLOADS[workload]["sf"])
    return None


def tail(ms, per_iteration):
    """(value, percentile): the op latency at the highest percentile that
    leaves at least 10 ops beyond it in the three iterations every run
    makes (the maximum when those hold fewer than 11 ops), so the
    percentile does not shift with the number of iterations."""
    n_min = 3 * per_iteration
    q = 1 - 10 / n_min if n_min >= 11 else 1.0
    xs = sorted(ms)
    return xs[max(0, math.ceil(q * len(xs)) - 1)], 100 * q


def daily_failures(ops, checks, manifest):
    """Failed ops of a daily_load run. An op fails when it raised, when a
    count it observed disagrees with the manifest, or when the rows its
    dataset left in parquet / Derby disagree with the manifest. The
    mangled arrival must fail; if it loads, that op counts as failed."""
    expected_rows = {"tbl_estados_operativos.csv": manifest["estados"],
                     "tbl_conducta_diaria.csv": manifest["conducta"]}
    bad_content = {}
    for key, name in (("estados", "tbl_estados_operativos.csv"),
                      ("conducta", "tbl_conducta_diaria.csv")):
        bad_content[name] = not landed_matches(checks[key], manifest[key])
    bad_content["derby"] = not landed_matches(checks["jdbc"], manifest["jdbc"])
    failed, attempted, reasons = 0, 0, set()
    for o in ops:
        name = o["name"]
        if name == manifest["failed_arrival"]:
            if o["ok"]:
                attempted += 1; failed += 1; reasons.add("mangled arrival loaded")
            continue
        attempted += 1
        why = None
        if not o["ok"]:
            why = f"{name}: {o['error']}"
        elif name.startswith("derby:"):
            want = sum(manifest["jdbc"]["survivors"].values())
            if o["rows_read_back"] != want or bad_content["derby"]:
                why = "derby day differs from manifest"
        else:
            want = sum(expected_rows[name]["survivors"].values())
            if (o["drift"] != manifest["drift"][name] or
                    o["rows_conformed"] != want or o["rows_landed"] != want or
                    o["partitions"] != len(expected_rows[name]["survivors"]) or
                    bad_content[name]):
                why = f"{name}: landed rows differ from manifest"
        if why:
            failed += 1; reasons.add(why)
    return attempted, failed, sorted(reasons)


def landed_matches(got, want):
    return (got["survivors"] == want["survivors"] and
            all(got["sums"].get(c) == v for c, v in want["sums"].items()))


def query_failures(ops, checks, data):
    import oracle
    verdict = oracle.compare(checks["results_dir"], data, checks["oracle_sql"])
    bad = {q for q, (ok, _, _) in verdict.items() if not ok}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    reasons = sorted({f"{o['name']}: {o['error']}" for o in ops if not o["ok"]} |
                     {f"{q}: {verdict[q][2]}" for q in bad})
    rows_per_pass = sum(r for _, r, _ in verdict.values())
    return len(ops), failed, reasons, rows_per_pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(build.BUILD, "run", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    manifest = generate(a.workload, a.seed, data)

    d = run_driver(a.workload, data, os.path.join(run_dir, "main"), a.seconds,
                   a.trace, a.seed, deadline)

    ops = d["ops"]
    if a.workload == "daily_load":
        attempted, failed, reasons = daily_failures(ops, d["checks"], manifest)
        timed_ops = [o for o in ops if o["name"] != manifest["failed_arrival"]]
        rows = sum(o.get("rows_landed", 0) for o in timed_ops if o["ok"])
    else:
        attempted, failed, reasons, per_pass = query_failures(ops, d["checks"], data)
        timed_ops = ops
        rows = per_pass * len(d["iterations"])
    iters = d["iterations"]
    plain = [i["seconds"] for i in iters if not i["traced"]]
    wall = sum(i["seconds"] for i in iters)
    plain_ops = [o["ms"] for o in timed_ops if not o["traced"]]
    first = [o for o in timed_ops if o["iter"] == iters[0]["iter"]]
    tail_ms, tail_pct = tail(plain_ops, len(first))
    e2e = {
        "setup_s": d["setup_s"],
        "run_s": statistics.median(plain),
        "op_p50_ms": statistics.median(plain_ops),
        "op_tail_ms": tail_ms,
        "ops_per_s": len(timed_ops) / wall,
        "rows_per_s": rows / wall,
    }
    peak_rss_mb = d["vm_hwm_kb"] / 1024.0

    print(f"workload {a.workload}  seed {a.seed}  cores {d['cores']}  "
          f"iterations {len(iters)}  ops {len(timed_ops)}")
    for k, v in e2e.items():
        print(f"  {k:<12} {v:14.4f} {END_TO_END_UNITS[k]}")
    print(f"  op_tail_ms is p{tail_pct:.1f} of {len(plain_ops)} ops")
    print(f"  failed_frac  {failed / max(1, attempted):.4f} "
          f"({failed} of {attempted} ops); peak_rss_mb {peak_rss_mb:.0f}; "
          f"host steal {100 * d['steal_frac']:.1f}% of CPU time")
    for r in reasons:
        print(f"  FAILED {r}")

    if a.trace:
        units = layer_units()
        layer = d["layer"]
        traced = [i["seconds"] for i in iters if i["traced"]]
        layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        layer["queries.memo_artifacts"] = d["memo_artifacts"]
        layer["mem.peak_rss_mb"] = peak_rss_mb
        layer["host.steal_frac"] = d["steal_frac"]
        with open(os.path.join(run_dir, "ops.jsonl"), "w") as f:
            for row in layer.pop("op_rows"):
                f.write(json.dumps(row) + "\n")
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        for k, m in metrics.items():
            print(f"  {k:<40} {m['value']:16.6f} {m['unit']}")
        print(f"  spans: {os.path.join(run_dir, 'main', 'spans.json')}  "
              f"per-op rows: {os.path.join(run_dir, 'ops.jsonl')}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
