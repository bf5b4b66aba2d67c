#!/usr/bin/env python3
"""Benchmark of the ERCOT/weather lake engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
client from source with sbt; later runs reuse the build while no source
is newer. Each run generates its inputs from the seed, starts one JVM
client that drives the engine through its public functions, checks the
outputs, prints every metric with its unit, and ends with one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

DASHBOARD_MIX = [
    # reference analytics
    "a4_monthly_avg", "a5_hourly_avg", "a6_pct_distribution", "sql1_hourly",
    # interval and as-of joins, TPC-H-shaped aggregates
    "j1_interval", "j2_asof", "q1_agg", "q5_region_revenue",
    # sessions, statistics with eager work in the build
    "w2_sessionize", "a41_spearman",
]

WORKLOADS = {
    "dashboard": {"sf": 0.02},
    "elt_lake": {"ticks": 8, "hours": 3, "warmups": 3, "seed_rows": 20000,
                 "rounds": 8, "append": 200, "upsert": 200, "delete": 100},
}

# ops that commit or return the rows rows_per_s counts
ROW_KINDS = {"dashboard": {"query"}, "elt_lake": {"job", "commit"}}
# a fixed heap and young generation keep the resident set from following
# the collector's adaptive sizing from run to run
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------- build

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "project", "build.properties")):
        if os.path.exists(f):
            yield f


def _jar(classes, jar):
    """Packs a class directory into a jar (class-data sharing takes jars,
    not directories)."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def java_cmd(classpath, tmp, *extra):
    cmd = ["java", "-XX:-UsePerfData", *HEAP, f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + list(extra) + ["-cp", classpath, "perfbench.Main"]


def build():
    """The client's runtime classpath, building first when any source is
    newer than the last build. A build compiles with sbt, packs the engine
    and client classes into jars, and writes a class-data archive from one
    JVM that runs every workload's set-up: loading Spark's classes from
    that archive halves the cold set-up every run pays."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(f) for f in _sources())
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest:
        with open(cp_file) as f:
            return f.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building engine and client with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and
             ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    jars = []
    for entry in lines[-1].strip().split(":"):
        if entry.endswith(".jar"):
            jars.append(entry)
        else:  # a class directory: the client's or the engine's
            name = "client" if os.sep + "perfbench" + os.sep in entry else "engine"
            jar = os.path.join(BUILD, f"{name}.jar")
            _jar(entry, jar)
            jars.insert(0, jar)
    classpath = ":".join(jars)
    log(f"compiled in {time.time() - t0:.1f} s; writing the class-data archive")
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    specs = []
    for w in WORKLOADS:
        os.makedirs(f"{train}/{w}/inputs")
        make_inputs(w, 0, f"{train}/{w}/inputs")
        specs.append(f"{w}={train}/{w}/inputs")
    jsa = os.path.join(BUILD, "client.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    with open(f"{train}/train.log", "w") as logf:
        rc = subprocess.run(
            java_cmd(classpath, tmp, f"-XX:ArchiveClassesAtExit={jsa}") +
            ["--train", ",".join(specs), "--work", f"{train}/work"],
            cwd=train, stdout=logf, stderr=logf, timeout=600).returncode
    if rc != 0 or not os.path.exists(jsa):
        with open(f"{train}/train.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("writing the class-data archive failed")
    shutil.rmtree(train, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


# -------------------------------------------------------------------- inputs

def make_inputs(workload, seed, inputs):
    import gen
    cfg = WORKLOADS[workload]
    if workload == "dashboard":
        gen.dashboard_tables(f"{inputs}/tables", seed, cfg["sf"])
        plan = {"mix": DASHBOARD_MIX}
    else:
        plan = gen.elt_plan(inputs, seed, cfg["ticks"], cfg["hours"],
                            cfg["warmups"])
        plan.update(gen.lake_plan(f"{inputs}/lake", seed, cfg["seed_rows"],
                                  cfg["rounds"], cfg["append"], cfg["upsert"],
                                  cfg["delete"]))
    with open(f"{inputs}/plan.json", "w") as f:
        json.dump(plan, f)


# ------------------------------------------------------------------- machine

def _cpu_ticks():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class LoadSampler(threading.Thread):
    """1-minute load average before, at its peak during, and after a run,
    and the share of CPU time the hypervisor stole during it (a shared
    host slows every op at once; see README.md)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.before = self.peak = os.getloadavg()[0]
        self.cpu0 = _cpu_ticks()
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.5):
            self.peak = max(self.peak, os.getloadavg()[0])

    def stop(self):
        self.done.set()
        self.join()
        d = [b - a for a, b in zip(self.cpu0, _cpu_ticks())]
        return {"load_before": self.before, "load_peak": self.peak,
                "load_after": os.getloadavg()[0],
                "cpu_steal_share": round(d[7] / max(sum(d), 1), 3)}


# ------------------------------------------------------------------- metrics

TAIL_PCT = 90


def tail(xs):
    """The TAIL_PCT percentile, interpolated between the two samples around
    it: with ten-odd ops of different kinds per run, a nearest-rank pick
    jumps between kinds from run to run."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[TAIL_PCT - 1]


def end_to_end(workload, res):
    nrounds = len(res["rounds"])
    ops = [o for o in res["ops"] if o["round"] < nrounds]
    dur = sorted((o["end"] - o["start"]) / 1000 for o in ops)
    busy = sum(dur)
    per_round = {}
    for o in ops:
        per_round[o["round"]] = per_round.get(o["round"], 0.0) + \
            (o["end"] - o["start"]) / 1000
    kinds = ROW_KINDS[workload]
    row_ops = [o for o in ops if o["kind"] in kinds]
    rows = sum(max(o["rows"], 0) for o in row_ops)
    row_s = sum((o["end"] - o["start"]) / 1000 for o in row_ops)
    m = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
        "op_p50_s": (statistics.median(dur), "s"),
        "op_tail_s": (tail(dur), "s"),
        "ops_per_s": (len(dur) / busy, "1/s"),
        "round_s": (statistics.median(per_round.values()), "s"),
        "rows_per_s": (rows / row_s, "rows/s"),
    }
    return m, ops


def details(workload, res, ops, failed, attempted):
    """Metrics that apply to one workload only (printed, not in the JSON)."""
    d = {"ops": (len(ops), "count"),
         "op_tail_pct": (TAIL_PCT, "%"),
         "rounds": (len(res["rounds"]), "count"),
         "timed_s": (res["timed_s"], "s")}
    if workload == "elt_lake":
        for label, kinds in (("commit", {"commit"}), ("refresh", {"refresh"}),
                             ("read", {"read"}), ("mirror", {"mirror"})):
            ts = [(o["end"] - o["start"]) / 1000 for o in ops if o["kind"] in kinds]
            if ts:
                d[f"{label}_p50_s"] = (statistics.median(ts), "s")
        comp = [o for o in res["ops"] if o["name"] == "compact"]
        if comp:
            d["compact_s"] = ((comp[0]["end"] - comp[0]["start"]) / 1000, "s")
    d["failed_ratio"] = (failed / max(attempted, 1), "1")
    names = {}
    for o in ops:
        names.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1000)
    for n, ts in sorted(names.items(), key=lambda x: -statistics.median(x[1])):
        d[f"op[{n}]_p50_s"] = (statistics.median(ts), "s")
    for i, s in enumerate(res["setup_s"]):
        d[f"setup[{i}]_s"] = (s, "s")
    if "write_amp" in res["counters"]:
        d["write_amp"] = (res["counters"]["write_amp"], "1")
    d["setup_total_s"] = (sum(res["setup_s"]), "s")
    d["load_s"] = (res["load_s"], "s")
    return d


def _union(ivs):
    out = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _minus(ivs, cut):
    """Intervals `ivs` (a union) with the union `cut` removed."""
    out = []
    for a, b in ivs:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append([cur, c])
            cur = max(cur, d)
        if cur < b:
            out.append([cur, b])
    return out


def _len(ivs):
    return sum(b - a for a, b in ivs) / 1000


def _clip(ivs, a, b):
    return [[max(x, a), min(y, b)] for x, y in ivs if y > a and x < b]


def per_layer(res):
    """Per-op layer breakdown over the traced ops. Each op's wall time is
    split without overlap into Spark job time, Catalyst phases outside
    jobs (planning before optimization before analysis where phases of
    nested queries overlap) and the driver time left over."""
    spans = res["spans"]
    ops = [o for o in res["ops"] if o["traced"]]
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    jobs = _union([[s["start"], s["end"]] for s in by.get("spark.job", [])])
    phases = {p: _union([[s["start"], s["end"]] for s in
                         by.get(f"catalyst.{p}", [])])
              for p in ("planning", "optimization", "analysis")}
    acc = dict.fromkeys(
        ["catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
         "spark.job_s", "driver.outside_jobs_s", "spark.jobs", "spark.stages",
         "spark.tasks", "spark.task_s", "spark.scan_bytes",
         "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
         "spark.spill_bytes"], 0.0)
    wall = 0.0
    for o in ops:
        a, b = o["start"], o["end"]
        wall += (b - a) / 1000
        j = _clip(jobs, a, b)
        taken = j
        acc["spark.job_s"] += _len(j)
        for p in ("planning", "optimization", "analysis"):
            c = _minus(_clip(phases[p], a, b), _union(taken))
            acc[f"catalyst.{p}_s"] += _len(c)
            taken = _union(taken + c)
        acc["driver.outside_jobs_s"] += _len(_minus([[a, b]], taken))

        def inside(name):
            return [s for s in by.get(name, []) if a <= s["end"] <= b]
        acc["spark.jobs"] += len(inside("spark.job"))
        acc["spark.stages"] += len(inside("spark.stage"))
        tasks = inside("spark.task")
        acc["spark.tasks"] += len(tasks)
        for t in tasks:
            at = t.get("attrs", {})
            acc["spark.task_s"] += at.get("run_ms", 0) / 1000
            for k in ("scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                acc[f"spark.{k}"] += at.get(k, 0)
    n = max(len(ops), 1)
    m = {k: v / n for k, v in acc.items()}
    units = {"_s": "s", "_bytes": "bytes"}
    out = {k: (v, next((u for sfx, u in units.items() if k.endswith(sfx)),
                       "count")) for k, v in m.items()}
    out["trace.accounted"] = ((m["spark.job_s"] + m["catalyst.analysis_s"] +
                               m["catalyst.optimization_s"] +
                               m["catalyst.planning_s"] +
                               m["driver.outside_jobs_s"]) * n / max(wall, 1e-9),
                              "1")
    out["jvm.gc_s"] = (res["gc_s"], "s")
    c = res["counters"]
    out["lake.files"] = (c.get("lake.files", 0.0), "count")
    out["write_amp"] = (c.get("write_amp", 0.0), "1")
    # trace overhead: op time of each traced round over the untraced round
    # after it. The traced round is the colder of the two, so this bounds
    # the overhead from above.
    rt = {}
    for o in res["ops"]:
        rt[o["round"]] = rt.get(o["round"], 0.0) + (o["end"] - o["start"])
    ratios = [rt[r["round"]] / rt[r["round"] + 1] - 1 for r in res["rounds"]
              if r["traced"] and rt.get(r["round"] + 1)]
    out["trace.overhead"] = (statistics.median(ratios) if ratios else 0.0, "1")
    # layer spans: time inside each layer call and its self time (the part
    # no Spark job or Catalyst phase covers)
    layers = {}
    for s in spans:
        nm = s["name"]
        if nm.startswith("op.") or nm.startswith("spark.") or \
                nm.startswith("catalyst.") or nm.startswith("streaming.batch"):
            continue
        iv = [[s["start"], s["end"]]]
        busy = _union(_clip(jobs, s["start"], s["end"]) + sum(
            (_clip(v, s["start"], s["end"]) for v in phases.values()), []))
        layers.setdefault(nm, []).append((_len(iv), _len(_minus(iv, busy))))
    for nm, xs in layers.items():
        out[f"{nm}_s"] = (statistics.mean(x[0] for x in xs), "s")
        out[f"{nm}.self_s"] = (statistics.mean(x[1] for x in xs), "s")
    batches = by.get("streaming.batch", [])
    catch_ups = max(len(layers.get("streaming.VersionedSink.catchUp", [])), 1)
    out["streaming.VersionedSink.batches"] = (len(batches) / catch_ups, "count")
    out["streaming.VersionedSink.batch_s"] = (
        statistics.mean((s["end"] - s["start"]) / 1000 for s in batches)
        if batches else 0.0, "s")
    out["streaming.VersionedSink.input_rows"] = (
        sum(s.get("attrs", {}).get("input_rows", 0) for s in batches) /
        catch_ups, "count")
    commits = c.get("sources.VersionedTable.commits", 0.0)
    for k in ("versions", "manifest_bytes", "files_added", "bytes_added"):
        v = c.get(f"sources.VersionedTable.{k}", 0.0) / max(commits, 1)
        out[f"sources.VersionedTable.{k}_per_op"] = (
            v, "bytes" if k.endswith("bytes") or k == "bytes_added" else "count")
    refreshes = c.get("operators.IncrementalView.refreshes", 0.0)
    out["operators.IncrementalView.refresh_commits"] = (
        c.get("operators.IncrementalView.refresh_commits", 0.0) /
        max(refreshes, 1), "count")
    return out


# ---------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources under {ROOT}: run from a checkout root")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        return 2
    classpath = build()
    t_start = time.time()  # the 180 s budget starts after a build

    run_dir = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    inputs, work = f"{run_dir}/inputs", f"{run_dir}/work"
    os.makedirs(inputs)
    os.makedirs(f"{work}/tmp")
    try:
        t0 = time.time()
        make_inputs(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        sampler = LoadSampler()
        sampler.start()
        out = f"{run_dir}/result.json"
        cmd = java_cmd(classpath, f"{work}/tmp", "-XX:SharedArchiveFile=" +
                       os.path.join(BUILD, "client.jsa"))
        cmd += ["--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--inputs", inputs, "--work", work,
                "--out", out]
        with open(f"{run_dir}/client.log", "w") as logf:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=logf)
            try:
                rc = p.wait(timeout=max(DEADLINE_S - (time.time() - t_start), 10))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        machine = sampler.stop()
        if rc != 0 or not os.path.exists(out):
            with open(f"{run_dir}/client.log") as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"client failed ({rc})")
            return 1
        with open(out) as f:
            res = json.load(f)

        import check
        extra = [f"op {o['kind']} {o['name']} round {o['round']}: {o['error']}"
                 for o in res["ops"] if not o["ok"]] + res["failures"]
        run_level = len(res["failures"])
        bad_ops = {o["id"] for o in res["ops"] if not o["ok"]}
        if a.workload == "dashboard":
            for q, msg in check.dashboard(f"{inputs}/tables", f"{work}/results"):
                extra.append(f"oracle {q}: {msg}")
                bad_ops |= {o["id"] for o in res["ops"] if o["name"] == q}
        if a.workload == "elt_lake":
            done = len(res["rounds"])
            for msg in check.lake(f"{work}/results", a.seed,
                                  WORKLOADS["elt_lake"], done):
                extra.append(msg)
                run_level += 1

        e2e, ops = end_to_end(a.workload, res)
        # every op counts, the untimed final ones (compact) too
        attempted = len(res["ops"])
        failed = min(attempted, len(bad_ops) + run_level)
        det = details(a.workload, res, ops, failed, attempted)
        layer = per_layer(res) if a.trace else {}
        stamp = dict(machine, nproc=os.cpu_count(), jvm=res["jvm_version"],
                     jvm_max_heap_mb=res["jvm_max_heap_mb"],
                     client_cpus=res["cpus"], gen_s=round(gen_s, 3),
                     run_wall_s=round(time.time() - t_start, 1),
                     workload=a.workload, seed=a.seed, trace=a.trace)

        for msg in extra[:20]:
            print(f"FAIL {msg}")
        print("machine " + json.dumps(stamp))
        for k, (v, u) in list(e2e.items()) + list(det.items()) + \
                list(layer.items()):
            print(f"{k:48s} {v:>16.6g} {u}")
        chosen = layer if a.trace else e2e
        bench = os.path.join(ROOT, "BENCHMARK.json")
        if a.trace and os.path.exists(bench):
            with open(bench) as f:
                names = [m["name"] for m in json.load(f)["per_layer"]]
            chosen = {k: layer[k] for k in names}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                        chosen.items()}}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
