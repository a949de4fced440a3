#!/usr/bin/env python3
"""Run one workload of the lakehouse benchmark and print its metrics.

    python3 perfbench/run.py --workload commit_mix --seed 1 --seconds 10 --trace 0

Builds the benchmark's JVM runner (perfbench/build.sbt, over the engine's
sources at the repository root) on first use, runs it in one JVM with
Spark local[4], and turns the raw record it writes into metrics. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The exit code is 0 only when every output checked out.

    python3 perfbench/run.py --selftest      # checker, determinism checks
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

# the workloads BENCHMARK.json names. lookup_mix and curation_batch also
# run on their own; their layers are measured in the traced runs of
# commit_mix and medallion_batch
WORKLOADS = ("medallion_batch", "commit_mix")
ALL_WORKLOADS = WORKLOADS + ("lookup_mix", "curation_batch")
CPUS = 4
DEADLINE_S = 170  # the whole command must end within 180 s

# name, unit
END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("ops_per_s", "1/s")]

COMMIT_KINDS = ["catalog.insert", "catalog.delete_cow", "catalog.delete_mor",
                "catalog.update", "catalog.merge", "snapshots.upsertBatch",
                "snapshots.compact", "snapshots.expireSnapshots"]
READ_KINDS = ["read.point", "read.range", "read.asof", "read.agg", "read.serving"]
MARTS = ["DailySales", "HourlyTraffic", "ItemPerformance", "UserJourneyFunnel",
         "ConversionFunnelDaily", "CategoryPerformance", "RfmSegments"]
CURATION_STAGES = ["text.QualityFilters.filterFlags", "dedup.NearDup.jaccardPairs",
                   "dedup.NearDup.minhashSignatures", "dedup.NearDup.duplicateClusters",
                   "text.Curation.verdictsWith", "dedup.NearDup.applyKeepList",
                   "sim.IvfAnn.centroids", "sim.SemDedup.candidatePairs",
                   "sim.SemDedup.dropsFromPairs"]

# name, unit, better
PER_LAYER = (
    [("batch_s", "s", "lower"), ("batch_rows_per_s", "rows/s", "higher"),
     ("commit_p50_ms", "ms", "lower"),
     ("commit_ops_per_s", "1/s", "higher"), ("refresh_p50_ms", "ms", "lower"),
     ("read_p50_ms", "ms", "lower"),
     ("read_ops_per_s", "1/s", "higher"), ("write_bytes_per_row", "B/row", "lower"),
     ("space_amp", "ratio", "lower"), ("failed_frac", "ratio", "lower"),
     ("trace.overhead_ms", "ms", "lower"), ("trace.span_coverage", "ratio", "higher"),
     ("spark.jobs", "count", "lower"), ("spark.job_s", "s", "lower"),
     ("spark.driver_gap_s", "s", "lower"), ("spark.tasks", "count", "lower"),
     ("spark.task_cpu_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
     ("spark.shuffle_bytes", "B", "lower"), ("spark.spill_bytes", "B", "lower"),
     ("spark.input_bytes", "B", "lower"), ("spark.task_skew", "ratio", "lower"),
     ("Pipeline.runAll_s", "s", "lower"), ("marts.SilverEvents.build_s", "s", "lower")]
    + [("marts.%s_s" % m, "s", "lower") for m in MARTS]
    + [("sink.write_s", "s", "lower"), ("sink.bytes_written", "B", "lower"),
       ("sink.files_written", "count", "lower")]
    + [("%s.%s" % (k, m), u, "lower") for k in COMMIT_KINDS
       for m, u in (("p50_ms", "ms"), ("jobs", "count"), ("driver_gap_ms", "ms"),
                    ("bytes_written", "B"))]
    + [("commit.files_live", "count", "lower"), ("commit.delete_files_live", "count", "lower"),
       ("commit.manifest_bytes", "B", "lower"),
       ("commit.first_half_p50_ms", "ms", "lower"), ("commit.second_half_p50_ms", "ms", "lower"),
       ("commit.live_rows_min", "rows", "higher"), ("commit.live_rows_max", "rows", "lower"),
       ("commit.live_files_min", "count", "lower"), ("commit.live_files_max", "count", "lower")]
    + [("ivm.refresh.jobs", "count", "lower"), ("ivm.refresh.driver_gap_ms", "ms", "lower"),
       ("ivm.refresh.bytes_written", "B", "lower"), ("ivm.initialize_s", "s", "lower")]
    + [("%s.%s" % (k, m), u, b) for k in READ_KINDS
       for m, u, b in (("p50_ms", "ms", "lower"), ("plan_ms", "ms", "lower"),
                       ("files_scanned", "count", "lower"), ("pruned_frac", "ratio", "higher"),
                       ("jobs", "count", "lower"))]
    + [("%s_s" % s, "s", "lower") for s in CURATION_STAGES]
    + [("sim.SemDedup.drop_per_candidate", "ratio", "higher"),
       ("dedup.NearDup.pairs", "count", "lower")])

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

WORK = os.path.join(HERE, ".work")


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    """A digest of every source and build file the runner is built from."""
    h = hashlib.sha256()
    files = []
    for pattern in ("src/main/**/*.scala", "build.sbt", "project/*.sbt",
                    "project/build.properties", "perfbench/build.sbt",
                    "perfbench/project/build.properties", "perfbench/src/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(files):
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def java_cmd(cp, run_dir, cds):
    """The runner's command line; `cds` is its class-data-sharing flag."""
    return (["java", "-Xms3g", "-Xmx3g", cds,
             "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"])


def classpath():
    """The runner's classpath (jars) and the flag that starts the JVM
    from its class-data-sharing archive, building both first when the
    sources changed; also whether it built."""
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath")
    stamp_file = os.path.join(WORK, "stamp")
    jsa = os.path.join(WORK, "classes.jsa")
    cds = "-XX:SharedArchiveFile=" + jsa
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp and os.path.exists(jsa):
        return open(cp_file).read().strip(), cds, False
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no engine build (build.sbt) at the repository root")
    log("building the runner (sbt package) ...")
    for f in (cp_file, stamp_file, jsa):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # its own process group, so a timeout also stops the JVM sbt starts
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit("perfbench: build did not finish in time")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    # one untimed setup and warm-up of every workload records the classes
    # they load into an archive the runs start from: it saves several
    # seconds of JVM start and first setup per run, which the time budget
    # of the benchmark needs (measured in README.md)
    log("recording the class-data-sharing archive ...")
    train_dir = os.path.join(WORK, "train")
    shutil.rmtree(train_dir, ignore_errors=True)
    os.makedirs(os.path.join(train_dir, "tmp"))
    proc = subprocess.run(
        java_cmd(cp, train_dir, "-XX:ArchiveClassesAtExit=" + jsa)
        + ["--workload", "train", "--work", train_dir, "--cpus", str(CPUS)],
        cwd=train_dir, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True, timeout=600)
    shutil.rmtree(train_dir, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(jsa):
        sys.stderr.write("\n".join(proc.stderr.splitlines()[-30:]) + "\n")
        raise SystemExit("perfbench: training run failed")
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp, cds, True


# ---------------------------------------------------------------- run

def run_jvm(args, extra, deadline):
    """Run the JVM runner; returns the raw record it wrote."""
    cp, cds, built = classpath()
    if built:  # a run that builds may take longer; the JVM still gets its full time
        deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(WORK, "run-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "raw.json")
    cmd = java_cmd(cp, run_dir, cds) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--out", out, "--work", run_dir,
        "--cpus", str(CPUS)] + extra
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        _, err = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit("perfbench: the run did not finish in time")
    for line in err.splitlines():
        if "[perfbench]" in line or "Exception" in line and "at " not in line[:6]:
            sys.stderr.write(line + "\n")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write("\n".join(err.splitlines()[-30:]) + "\n")
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit("perfbench: the run failed (exit %d)" % proc.returncode)
    raw = json.load(open(out))
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    return raw


# ---------------------------------------------------------------- metrics

def dur_ms(op):
    return op["end"] - op["start"]


def attribute(raw, ops):
    """Per operation: its Spark jobs (by start time inside the operation's
    window), their interval union, and the task totals of their stages."""
    stages = {s["id"]: s for s in raw["stages"]}
    jobs = sorted(raw["jobs"], key=lambda j: j["start"])
    out = []
    for op in ops:
        mine = [j for j in jobs if op["start"] <= j["start"] <= op["end"]]
        ivals = stats.clip([(j["start"], j["end"] if j["end"] > 0 else op["end"]) for j in mine],
                           op["start"], op["end"])
        job_ms = stats.union_length(ivals)
        sts = [stages[s] for j in mine for s in j["stages"] if s in stages and stages[s]["tasks"]]
        longest = max(sts, key=lambda s: s["end"] - s["start"], default=None)
        skew = 0.0
        if longest and longest["task_ms"]:
            med = stats.median(longest["task_ms"])
            skew = max(longest["task_ms"]) / med if med > 0 else 1.0
        out.append({
            "jobs": len(mine), "job_ms": job_ms, "gap_ms": dur_ms(op) - job_ms,
            "tasks": sum(s["tasks"] for s in sts),
            "cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in sts) / 1e3,
            "shuffle": sum(s["shuffle_bytes"] for s in sts),
            "spill": sum(s["spill_bytes"] for s in sts),
            "input": sum(s["input_bytes"] for s in sts), "skew": skew})
    return out


def throughput(ops):
    """Operations per second of time spent inside them: the checks and
    counts the benchmark makes between operations are not in it."""
    busy_s = sum(dur_ms(o) for o in ops) / 1e3
    return len(ops) / busy_s if busy_s else 0.0


def end_to_end(raw, phase="untraced"):
    ops = [o for o in raw["ops"] if o["phase"] == phase]
    return {
        "setup_s": raw["session_s"] + stats.median(raw["setup_reps_s"]) + raw["warm_s"],
        "op_p50_ms": stats.median([dur_ms(o) for o in ops]),
        "ops_per_s": throughput(ops),
    }


def coverage(op, spans):
    """Share of an operation's wall time its top-level layer spans (those
    of its trace without a parent) cover."""
    tops = [(s["start"], s["end"]) for s in spans if s["trace"] == op["trace"] and s["parent"] == 0]
    return stats.union_length(stats.clip(tops, op["start"], op["end"])) / dur_ms(op)


def halves(ops):
    """The operations of the first and of the second half of the bursts
    they belong to (the middle burst of an odd count in neither), so both
    halves hold the same mix of kinds."""
    bursts = sorted(set(o["extra"]["burst"] for o in ops))
    k = len(bursts) // 2
    first, second = set(bursts[:k]), set(bursts[len(bursts) - k:])
    return ([o for o in ops if o["extra"]["burst"] in first],
            [o for o in ops if o["extra"]["burst"] in second])


def per_layer(raw, bases):
    """The per-layer metrics; `bases` receives (numerator, denominator)
    of every ratio."""
    m = {name: 0.0 for name, _, _ in PER_LAYER}

    def ratio(name, num, den):
        r = stats.ratio(num, den)
        bases[name] = (r["num"], r["den"])
        return r["value"]

    wl = raw["workload"]
    untraced = [o for o in raw["ops"] if o["phase"] == "untraced"]
    traced = [o for o in raw["ops"] if o["phase"] == "traced"]
    spans = raw["spans"]
    att = attribute(raw, traced)
    pairs = list(zip(traced, att))
    med = lambda xs: stats.median(list(xs))  # noqa: E731

    # workload-level numbers, from the untraced steps of the run
    e2e = end_to_end(raw, "untraced")
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + raw["late_failures"]
    m["failed_frac"] = ratio("failed_frac", failed, attempted)
    # traced and untraced steps alternate and hold the same mix
    m["trace.overhead_ms"] = med(dur_ms(o) for o in traced) - e2e["op_p50_ms"]
    m["trace.span_coverage"] = med(coverage(o, spans) for o in traced if dur_ms(o) > 0)
    if pairs:
        m["spark.jobs"] = med(a["jobs"] for a in att)
        m["spark.job_s"] = med(a["job_ms"] for a in att) / 1e3
        m["spark.driver_gap_s"] = med(a["gap_ms"] for a in att) / 1e3
        m["spark.tasks"] = med(a["tasks"] for a in att)
        m["spark.task_cpu_s"] = med(a["cpu_s"] for a in att)
        m["spark.gc_s"] = med(a["gc_s"] for a in att)
        m["spark.shuffle_bytes"] = med(a["shuffle"] for a in att)
        m["spark.spill_bytes"] = med(a["spill"] for a in att)
        m["spark.input_bytes"] = med(a["input"] for a in att)
        m["spark.task_skew"] = med(a["skew"] for a in att)

    def span_durs(name):
        return [(s["end"] - s["start"]) / 1e3 for s in spans if s["name"] == name]

    if wl in ("medallion_batch", "curation_batch"):
        m["batch_s"] = e2e["op_p50_ms"] / 1e3
        rows = untraced[0]["rows"] if untraced else 0
        m["batch_rows_per_s"] = rows / m["batch_s"] if m["batch_s"] else 0.0
    if wl == "medallion_batch":
        m["Pipeline.runAll_s"] = med(span_durs("Pipeline.runAll"))
        m["marts.SilverEvents.build_s"] = med(span_durs("marts.SilverEvents.build"))
        for mart in MARTS:
            own = [stats.self_time(s, spans) / 1e3 for s in spans if s["name"] == "marts." + mart]
            m["marts.%s_s" % mart] = med(own)
        m["sink.write_s"] = sum(span_durs("sink.write"))
        m["sink.bytes_written"] = raw["counts"].get("sink.bytes_written", 0.0)
        m["sink.files_written"] = raw["counts"].get("sink.files_written", 0.0)
    # the curation chain: its own workload, or the attribution pass of
    # medallion_batch's traced run
    passes = [o for o in raw["ops"] if o["kind"] == "curation.pass"
              and o["phase"] in ("traced", "attribution")]
    if passes:
        for st in CURATION_STAGES:
            m[st + "_s"] = med(span_durs(st))
        m["dedup.NearDup.pairs"] = med(o["extra"].get("pairs", 0) for o in passes)
        m["sim.SemDedup.drop_per_candidate"] = ratio(
            "sim.SemDedup.drop_per_candidate",
            sum(o["extra"].get("drops", 0) for o in passes),
            sum(o["extra"].get("candidates", 0) for o in passes))
    if wl == "commit_mix":
        commits = [o for o in untraced if o["kind"] != "ivm.refresh"]
        refreshes = [o for o in untraced if o["kind"] == "ivm.refresh"]
        m["commit_p50_ms"] = med(dur_ms(o) for o in commits)
        m["commit_ops_per_s"] = e2e["ops_per_s"]
        m["refresh_p50_ms"] = med(dur_ms(o) for o in refreshes)
        first, second = halves([o for o in untraced + traced if o["kind"] != "ivm.refresh"])
        m["commit.first_half_p50_ms"] = med(dur_ms(o) for o in first)
        m["commit.second_half_p50_ms"] = med(dur_ms(o) for o in second)
        for kind in COMMIT_KINDS + ["ivm.refresh"]:
            mine = [(o, a) for o, a in pairs if o["kind"] == kind]
            if not mine:
                continue
            if kind != "ivm.refresh":  # refresh_p50_ms covers it
                m[kind + ".p50_ms"] = med(dur_ms(o) for o, _ in mine)
            m[kind + ".jobs"] = med(a["jobs"] for _, a in mine)
            m[kind + ".driver_gap_ms"] = med(a["gap_ms"] for _, a in mine)
            m[kind + ".bytes_written"] = med(o["extra"].get("bytes_written", 0) for o, _ in mine)
        m["write_bytes_per_row"] = ratio(
            "write_bytes_per_row", sum(o["extra"].get("bytes_written", 0) for o in traced),
            sum(o["rows"] for o in traced))
        for k in ("commit.files_live", "commit.delete_files_live", "commit.manifest_bytes",
                  "ivm.initialize_s"):
            m[k] = raw["counts"].get(k, 0.0)
        m["space_amp"] = ratio("space_amp", raw["counts"].get("warehouse_bytes", 0.0),
                               raw["counts"].get("head_compacted_bytes", 0.0))
        for s, name in (("live_rows", "commit.live_rows"), ("live_files", "commit.live_files")):
            xs = raw["series"].get(s, [])
            if xs:
                m[name + "_min"], m[name + "_max"] = min(xs), max(xs)
    # the read chain: its own workload, or the attribution pass of
    # commit_mix's traced run
    reads = [o for o in raw["ops"] if o["kind"] in READ_KINDS]
    if reads:
        timed = [o for o in reads if o["phase"] == "untraced"] or \
            [o for o in reads if o["phase"] == "attribution"]
        m["read_p50_ms"] = med(dur_ms(o) for o in timed)
        m["read_ops_per_s"] = throughput(timed)
        traced_reads = [o for o in reads if o["phase"] in ("traced", "attribution")]
        for kind in READ_KINDS:
            mine = [(o, a) for o, a in zip(traced_reads, attribute(raw, traced_reads))
                    if o["kind"] == kind]
            if not mine:
                continue
            m[kind + ".p50_ms"] = med(dur_ms(o) for o, _ in mine)
            m[kind + ".plan_ms"] = med(o["extra"].get("plan_ms", 0) for o, _ in mine)
            m[kind + ".files_scanned"] = med(o["extra"].get("files_scanned", 0) for o, _ in mine)
            scanned = sum(o["extra"].get("files_scanned", 0) for o, _ in mine)
            m[kind + ".pruned_frac"] = ratio(
                kind + ".pruned_frac",
                sum(o["extra"].get("files_in_version", 0) for o, _ in mine) - scanned,
                sum(o["extra"].get("files_in_version", 0) for o, _ in mine))
            m[kind + ".jobs"] = med(a["jobs"] for _, a in mine)
    return m


def report(raw, metrics, units, bases):
    """The human-readable summary printed above the JSON line."""
    ops = [o for o in raw["ops"] if o["phase"] in ("untraced", "traced")]
    print("workload %s  seed %s  trace %s  session %.1f s  setup reps %s s  warm %.1f s" % (
        raw["workload"], raw["seed"], int(raw["trace"]), raw["session_s"],
        " ".join("%.1f" % x for x in raw["setup_reps_s"]), raw["warm_s"]))
    kinds = sorted(set(o["kind"] for o in ops))
    for kind in kinds:
        lat = [dur_ms(o) for o in ops if o["kind"] == kind and o["phase"] == "untraced"]
        if not lat:
            continue
        t = stats.tail(lat)
        tail_txt = ("p%g %.1f ms" % (t["q"], t["value"])) if t else "no tail (<%d beyond p75)" \
            % stats.MIN_BEYOND
        print("  %-28s n=%-4d p50 %.1f ms  %s" % (kind, len(lat), stats.median(lat), tail_txt))
    for name, value in metrics.items():
        print("  %-40s %14.4f %s" % (name, value, units[name]))
    for name, (num, den) in bases.items():
        print("  %-40s = %g / %g" % (name, num, den))
    if "series" in raw and raw["series"]:
        for k, xs in raw["series"].items():
            print("  series %-12s %s" % (
                k, " ".join("%.0f" % x for x in xs)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=ALL_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", default="", help="plant a wrong answer (checker self-test)")
    ap.add_argument("--steps", type=int, default=0,
                    help="run this many steps (traced: this many of each), not seconds")
    ap.add_argument("--reps", type=int, default=0, help="setup repetitions (default per workload)")
    ap.add_argument("--keep", action="store_true", help="keep the run directory and raw record")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if args.selftest:
        import selftest
        sys.exit(selftest.main(sys.argv[0]))
    if not args.workload:
        ap.error("--workload is required")
    extra = []
    if args.plant:
        extra += ["--plant", args.plant]
    if args.steps:
        extra += ["--steps", str(args.steps)]
    if args.reps:
        extra += ["--reps", str(args.reps)]
    raw = run_jvm(args, extra, deadline)
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + raw["late_failures"]
    bases = {}
    if args.trace:
        metrics = per_layer(raw, bases)
        units = {n: u for n, u, _ in PER_LAYER}
    else:
        metrics = end_to_end(raw)
        units = dict(END_TO_END)
    report(raw, metrics, units, bases)
    for o in raw["ops"]:
        if not o["ok"]:
            log("FAILED %s (%s): %s" % (o["kind"], o["phase"], o["error"]))
    result = {"correct": failed == 0 and attempted > 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units}}
    log("wall %.1f s" % (time.time() - deadline + DEADLINE_S))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
