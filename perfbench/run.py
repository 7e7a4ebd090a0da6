#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads, every metric by name.

    python3 perfbench/run.py --workload <cdc_drain|cdc_paced|lake_mix> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the harness from
source with sbt (perfbench/build.sbt) and caches the classpath under perfbench/target;
later runs reuse it while the sources are unchanged. Each run gets a fresh working
directory, one JVM at local[nproc], and a heap sized from MemTotal. Human-readable
lines go first; the last line of stdout is the JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402

WORKLOADS = ("cdc_drain", "cdc_paced", "lake_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# paced open loop: the commit-to-replica p99 must stay under this with a flat backlog
PACED_P99_LIMIT_MS = 10000.0
LAKE_MODULES = ("CdcQueries", "Relational", "Temporal", "TextOps", "Dedup", "Similarity",
                "Multimodal")
LADDER = ("decode", "filter", "assemble", "parse", "envelope", "apply", "sink")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """A quarter of MemTotal, between 2 and 8 GiB; the heap is fixed at this size so that
    heap growth does not shift timings within a run."""
    gib = 4
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // (4 * 1024 * 1024)
    except OSError:
        pass
    return f"{min(8, max(2, gib))}g"


# ---- build ---------------------------------------------------------------------------

def _sources(root):
    """Every file the build reads: the program's and the harness's sources and build files."""
    picked = []
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            picked += [os.path.join(d, f) for f in fs]
    for f in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        picked.append(os.path.join(root, f))
    picked += [os.path.join(root, "project", f) for f in sorted(os.listdir(os.path.join(root, "project")))
               if f.endswith(".sbt")]
    return sorted(p for p in picked if os.path.isfile(p))


def _stamp(root):
    h = hashlib.sha256()
    for p in _sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(root):
    """Build program + harness if their sources changed since the cached build."""
    target = os.path.join(root, "perfbench", "target")
    cache = os.path.join(target, "graftbench-classpath.json")
    stamp = _stamp(root)
    if os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building program and harness (sbt) ...", file=sys.stderr)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cp = [ln for ln in lines if "scala-library" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    os.makedirs(target, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


# ---- one run -------------------------------------------------------------------------

def launch(cp, a, n_cpus, run_dir, lake_dir, budget_s):
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-cp", cp]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["graftbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
              str(n_cpus), out] + ([lake_dir] if lake_dir else []))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail + "\n")
        die(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(out) as f:
        return json.load(f)


def keep_record(root, run_dir, a):
    """Copy the run's raw result, JVM log and (traced) span record to
    perfbench/target/last/<workload>-t<trace>-*, where they outlive the run directory."""
    last = os.path.join(root, "perfbench", "target", "last")
    os.makedirs(last, exist_ok=True)
    for f in ("result.json", "spans.json", "jvm.log"):
        dst = os.path.join(last, f"{a.workload}-t{a.trace}-{f}")
        if os.path.exists(os.path.join(run_dir, f)):
            shutil.copyfile(os.path.join(run_dir, f), dst)
        elif os.path.exists(dst):
            os.remove(dst)


def pct_over(traced, plain):
    return 100.0 * (traced - plain) / plain if plain else 0.0


def ladder_metrics(lad):
    cum = lad["cumulative_s"]
    marg = benchlib.ladder_marginals(cum, list(LADDER), {"sink": "envelope"})
    m = {f"{r}.s": marg[r] for r in LADDER}
    m["decode.rows_per_s"] = lad["rows"] / cum["decode"]
    m["assemble.committed_rows"] = lad["committed_rows"]
    m["assemble.rolled_back_rows"] = lad["rolled_back_rows"]
    m["assemble.dropped_txns"] = lad["dropped_txns"]
    m["parse.ns_per_stmt"] = lad["parse_ns_per_stmt"]
    m["parse.ok_ratio"] = lad["parse_ok_ratio"]
    m["sink.mb"] = lad["sink_mb"]
    return m


# per-layer metrics only the CDC workloads exercise (the batch ladder and the publisher);
# lake_mix reports them as 0
CDC_LAYER = ([f"{r}.s" for r in LADDER] +
             ["decode.rows_per_s", "assemble.committed_rows", "assemble.rolled_back_rows",
              "assemble.dropped_txns", "parse.ns_per_stmt", "parse.ok_ratio", "sink.mb",
              "gen.late_ms_max", "gen.backlog_frames_max"])


def lake_layer(names):
    """The per-module and per-query lake_mix metrics, all 0: the CDC workloads report
    them so, and lake_mix adds its traced figures to them."""
    m = {f"{mod}.{k}": 0.0 for mod in LAKE_MODULES
         for k in ("construct_s", "execute_s", "jobs", "idle_s")}
    m.update({f"q.{n}.s": 0.0 for n in names})
    return m


def drain_latencies(meas, d):
    lat = []
    for ends in meas["batch_end_ms"]:
        lat += benchlib.backlog_latencies(ends, d["commits_per_wave"])
    return lat


def by_wave(commit_wave, lat):
    out = {}
    for w, v in zip(commit_wave, lat):
        if v is not None:
            out.setdefault(w, []).append(v)
    return out


def lake_times(meas):
    per_query = {}
    for e in meas["executions"]:
        per_query.setdefault(e["query"], []).append(e["construct_s"] + e["execute_s"])
    return per_query


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")
    cp = classpath(root)
    # the run's own time budget starts after the build, which the first run may include
    started = time.time()

    run_dir = os.path.join(root, "perfbench", "target", "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    lake_dir, gen_s = "", 0.0
    try:
        if a.workload == "lake_mix":
            import gen_lake
            lake_dir = os.path.join(run_dir, "lake")
            # the tables are written three times, each overwriting the last: the median
            # counts toward setup_s
            gens = []
            for _ in range(3):
                t0 = time.time()
                gen_lake.generate(lake_dir, a.seed)
                gens.append(time.time() - t0)
            gen_s = statistics.median(gens)
        r = launch(cp, a, cpus(), run_dir, lake_dir, JVM_TIMEOUT_S - (time.time() - started))
        e2e, extra, layer, attempted, failed = evaluate(a, r, run_dir, lake_dir, gen_s)
    finally:
        keep_record(root, run_dir, a)
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, (v, unit) in list(e2e.items()) + list(extra.items()):
        shown = f"{v:.6g}" if isinstance(v, (int, float)) else v
        print(f"{a.workload} {name} = {shown} {unit}".rstrip())
    metrics = ({k: (v, unit_of(k)) for k, v in sorted(layer.items())} if a.trace else e2e)
    want = declared(root, a.workload, a.trace)
    got = {k: u for k, (_, u) in metrics.items()}
    if want is not None and want != got:
        die(f"metrics {sorted(set(got.items()) ^ set(want.items()))} disagree with "
            "BENCHMARK.json")
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed),
                      "metrics": {k: {"value": float(v), "unit": u}
                                  for k, (v, u) in metrics.items()}}))


def evaluate(a, r, run_dir, lake_dir, gen_s):
    """Turn the harness's raw measurements into the reported figures: returns the
    end-to-end (or, traced, the per-layer) metrics, extra figures for people, and the
    (attempted, failed) operation counts."""
    w = a.workload
    setup_s = r["session_s"] + sum(r["setup"].values()) + gen_s
    e2e = {"setup_s": (setup_s, "s")}
    extra = {}
    layer = {}
    if w == "lake_mix":
        attempted, failed = lake(a, r, run_dir, lake_dir, e2e, extra, layer)
    else:
        attempted, failed = cdc(a, r, e2e, extra, layer)
    extra["failed_share"] = (benchlib.failed_share(failed, attempted), "ratio")
    return e2e, extra, layer, attempted, failed


def cdc(a, r, e2e, extra, layer):
    meas = r["measure"]
    if a.workload == "cdc_drain":
        d = r["drain"]
        rates = [d["frames"] / s for s in meas["drain_s"]]
        lat = drain_latencies(meas, d)
        e2e["throughput_per_s"] = (statistics.median(rates), "1/s")
        extra["drain_frames_per_s"] = e2e["throughput_per_s"]
        extra["drains"] = (len(rates), "count")
        bad_drains = sum(1 for ok in meas["drain_correct"] if not ok)
        attempted = r["check"]["attempted"] + len(meas["drain_correct"])
        failed = r["check"]["failed"] + bad_drains
    else:
        lat = benchlib.scheduled_latencies(meas["commit_wave"], meas["applied_ms"],
                                           meas["interval_ms"])
        busy_s = sum(meas["batch_s"])
        e2e["throughput_per_s"] = (meas["input_rows"] / busy_s, "1/s")
        extra["paced_frames_per_s"] = e2e["throughput_per_s"]
        extra["offered_frames_per_s"] = (meas["input_rows"] / meas["window_s"], "1/s")
        # the share of the window the query spent in batches: near 1 means saturated, and
        # then frames per busy second is the offered rate, not a capacity figure
        extra["busy_share"] = (busy_s / meas["window_s"], "ratio")
        extra["gen_late_ms_max"] = (max(meas["late_ms"]), "ms")
        attempted = meas["check"]["attempted"]
        failed = meas["check"]["failed"]
    s = benchlib.summarize(lat)
    applied = sorted(v for v in lat if v is not None)
    e2e["latency_p50_ms"] = (s["p50"], "ms")
    extra["commit_to_replica_p50_ms"] = e2e["latency_p50_ms"]
    # the p99 is printed, not gated: its run-to-run spread is wider than any allowed bound
    extra["commit_to_replica_p99_ms"] = (benchlib.nearest_rank(applied, 99.0)[0], "ms")
    extra["state_peak_mb"] = (meas["state_mem_mb"], "MB")
    extra["latency_samples"] = (s["n"], "count")
    if s["tail_p"] is None or s["tail_p"] < 99:
        extra["p99_warning"] = ("fewer than ten samples beyond p99", "")
    if a.workload == "cdc_paced":
        flat = benchlib.backlog_flat(by_wave(meas["commit_wave"], lat),
                                     slack_ms=2 * meas["interval_ms"])
        met = flat and extra["commit_to_replica_p99_ms"][0] <= PACED_P99_LIMIT_MS
        extra["p99_limit_met"] = (f"{met} (limit {PACED_P99_LIMIT_MS:g} ms, backlog "
                                  f"{'flat' if flat else 'growing'})", "")
    if a.trace:
        tr = r["traced"]
        layer.update(ladder_metrics(r["ladder"]))
        layer.update(lake_layer(r["lake_queries"]))
        layer.update(tr["spark"])
        layer.update({k: v for k, v in tr["stream"].items() if k != "stream.batches"})
        after = r["untraced_after"]
        if a.workload == "cdc_drain":
            layer["gen.late_ms_max"] = layer["gen.backlog_frames_max"] = 0.0
            layer["trace.overhead_pct"] = pct_over(
                statistics.median(tr["drain_s"]),
                statistics.median(meas["drain_s"] + after["drain_s"]))
        else:
            def p50(m):
                return benchlib.summarize(benchlib.scheduled_latencies(
                    m["commit_wave"], m["applied_ms"], m["interval_ms"]))["p50"]
            layer["gen.late_ms_max"] = max(tr["late_ms"])
            layer["gen.backlog_frames_max"] = max(tr["backlog_frames"] or [0])
            layer["trace.overhead_pct"] = pct_over(p50(tr), (p50(meas) + p50(after)) / 2)
    return attempted, failed


def lake(a, r, run_dir, lake_dir, e2e, extra, layer):
    import oracle
    meas = r["measure"]
    names = r["queries"]
    per_query = lake_times(meas)
    lake_s = sum(statistics.median(ts) for ts in per_query.values())
    # queries per second of a serial pass, and the median construct+execute time of one
    # query over every timed execution
    e2e["throughput_per_s"] = (len(per_query) / lake_s, "1/s")
    e2e["latency_p50_ms"] = (1e3 * statistics.median(
        [t for ts in per_query.values() for t in ts]), "ms")
    extra["lake_s"] = (lake_s, "s")
    extra["passes"] = (meas["passes"], "count")
    checks = oracle.check(lake_dir, os.path.join(run_dir, "lake-out"), r["oracle_sql"], names)
    errors = r["errors"]
    bad = {n for n, v in checks.items() if v is not None} | set(errors)
    for n in sorted(bad):
        print(f"lake_mix: {n} FAILED: {errors.get(n) or checks.get(n)}", file=sys.stderr)
    if a.trace:
        tr = r["traced"]
        layer.update(tr["spark"])
        layer.update({k: v for k, v in tr["stream"].items() if k != "stream.batches"})
        layer.update({k: 0.0 for k in CDC_LAYER})
        layer.update(lake_layer(names))
        for e in tr["executions"]:
            for k in ("construct_s", "execute_s", "jobs", "idle_s"):
                layer[f"{e['module']}.{k}"] += e[k] / tr["passes"]
        traced_q = lake_times(tr)
        for n in names:
            layer[f"q.{n}.s"] = statistics.median(traced_q[n]) if n in traced_q else 0.0
        after_s = sum(statistics.median(ts) for ts in lake_times(r["untraced_after"]).values())
        layer["trace.overhead_pct"] = pct_over(
            sum(statistics.median(ts) for ts in traced_q.values()), (lake_s + after_s) / 2)
    executions = sum(len(ts) for ts in per_query.values())
    return len(names) + executions, len(bad)


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "count"


UNITS = {"decode.rows_per_s": "1/s", "parse.ns_per_stmt": "ns", "parse.ok_ratio": "ratio",
         "sink.mb": "MB", "state.mem_mb": "MB", "spark.shuffle_write_mb": "MB",
         "spark.spill_mb": "MB", "trace.overhead_pct": "%", "gen.late_ms_max": "ms"}


def declared(root, workload, trace):
    """{metric: unit} as BENCHMARK.json declares them for this run, or None when the
    workload is not one of its workloads."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    main()
