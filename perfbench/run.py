#!/usr/bin/env python3
"""End-to-end workload benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed and
cached per seed. The harness runs the workload in one JVM; the output
checks run outside the timed region (DuckDB here, graft references in
the harness); the last line of standard output is the result JSON.
With --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer ones; the lines before it list every metric the run
measured, with units. README.md describes the workloads and metrics.

Extra flags: --corrupt-expected 1 perturbs every expected output, so
the run must report failures (a self-test of the checks).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload, the one place they are set (README.md has
# the rationale). The harness reads them from the generated inputs.
SIZES = {
    # batch: polls x vehicles of the medallion input; stream: fleet
    # size, drop rate (polls/s), and warm-up polls of the stream input
    # in the set-up and right before the stream's timed phase
    "gtfs_day": {"polls": 40, "vehicles": 500, "stream_vehicles": 100,
                 "rate": 4.0, "warm": 2, "rewarm": 2},
    # documents (0.4 vectors each)
    "corpus_day": {"docs": 600},
}
WORKLOADS = list(SIZES)
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
CACHE_KEEP = 6

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fingerprint():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_kb": mem_kb}


def source_hash():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for p in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in os.listdir(p)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the harness; returns the runtime classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building graft and the harness with sbt (offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # the offline settings the repository's own test command uses
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log("build took %.1f s" % (time.time() - t0))
    return cp


def cached(kind, seed, make):
    """Generate inputs once per (kind, generator version, seed); keep
    the newest few."""
    base = os.path.join(WORK, "data")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        kind += "-" + hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(base, "%s-%d" % (kind, seed))
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        info = make(d)
        with open(meta, "w") as f:
            json.dump(info, f)
    os.utime(meta)
    olds = sorted((os.path.getmtime(os.path.join(base, x, "meta.json")), x)
                  for x in os.listdir(base)
                  if x.startswith(kind + "-") and os.path.exists(os.path.join(base, x, "meta.json")))
    for _, x in olds[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    return d, json.load(open(meta))


def make_inputs(workload, seed, seconds):
    """Returns the input directory and its row count."""
    z = SIZES[workload]
    if workload == "gtfs_day":
        warm = z["warm"] + z["rewarm"]
        n = warm + int(math.ceil(z["rate"] * seconds)) + 1

        def make(d):
            _, recs = gen.write_bronze(os.path.join(d, "bronze"), seed, z["polls"], z["vehicles"])
            gen.write_bronze(os.path.join(d, "bronze_warm"), seed + 1, 4, 60)
            polls = os.path.join(d, "polls")
            os.makedirs(polls)
            # the drop schedule: file, records, drop time in ms after
            # the measured phase starts (-2: a set-up warm-up poll, -1:
            # a warm-up poll dropped right before the measured phase)
            rows = []
            for k, (name, text) in enumerate(
                    gen.bronze_polls(seed + 7919, n, z["stream_vehicles"])):
                with open(os.path.join(polls, name), "w") as f:
                    f.write(text)
                at = (-2 if k < z["warm"] else -1 if k < warm
                      else round((k - warm) * 1000 / z["rate"]))
                rows.append("%s\t%d\t%d" % (name, text.count('"VehicleNumber"'), at))
            with open(os.path.join(polls, "schedule.tsv"), "w") as f:
                f.write("\n".join(rows) + "\n")
            return {"rows": recs}
        key = "gtfs%dx%d-%dx%d-%g" % (z["polls"], z["vehicles"], n, z["stream_vehicles"], z["rate"])
        d, meta = cached(key, seed, make)
        return d, meta["rows"]
    if workload == "corpus_day":
        def make(d):
            n, _ = gen.write_corpus(os.path.join(d, "corpus"), seed, z["docs"])
            return {"rows": n + gen.n_vectors(n)}
        d, meta = cached("corpus%d" % z["docs"], seed, make)
        return d, meta["rows"]
    raise SystemExit("unknown workload " + workload)


def run_jvm(cp, args, after_measure=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    logf = open(os.path.join(WORK, "run", "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=os.path.join(WORK, "run"), stdin=subprocess.DEVNULL,
                            stdout=logf, stderr=subprocess.STDOUT)
    deadline = time.time() + JVM_TIMEOUT_S
    marker = os.path.join(WORK, "run", "w", "measured")
    try:
        # untimed checks that need no JVM output overlap the harness's
        # own check phase
        while after_measure and proc.poll() is None and time.time() < deadline:
            if os.path.exists(marker):
                after_measure()
                break
            time.sleep(0.05)
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: workload timed out after %d s" % JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        logf.close()
    if rc != 0:
        with open(os.path.join(WORK, "run", "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: harness exited with %d" % rc)


E2E = [("setup_s", "s"), ("job_s", "s"), ("latency_p50_s", "s"),
       ("latency_p95_s", "s"), ("rows_per_s", "1/s")]
PER_LAYER = [("spark.scan_bytes", "bytes"), ("spark.task_run_s", "s"),
             ("spark.task_cpu_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
             ("spark.shuffle_read_bytes", "bytes"), ("spark.output_files", "count"),
             ("spark.output_bytes", "bytes"), ("spark.jobs", "count"),
             ("spark.stages", "count"), ("spark.driver_gap_s", "s"),
             ("trace.self_cover", "ratio"), ("trace.overhead", "ratio"),
             ("space_amp", "ratio"), ("peak_rss_mb", "MB")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources next to %s; run from a full checkout" % HERE)

    t0 = time.time()
    cp = build()
    t1 = time.time()
    data, rows = make_inputs(a.workload, a.seed, a.seconds)
    t2 = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--data", data, "--work", os.path.join(run_dir, "w"),
            "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--corrupt", str(a.corrupt_expected), "--rows", str(rows),
            "--t0-ms", str(int(time.time() * 1000))]
    early = None
    if a.workload == "corpus_day":
        def early():
            checks.expected_curation(data, os.path.join(run_dir, "w"))
    run_jvm(cp, args, early)
    t3 = time.time()
    res = json.load(open(out))
    checks.verify(a.workload, data, run_dir, res, bool(a.corrupt_expected))
    log("build %.1f s, inputs %.1f s, harness %.1f s, checks %.1f s"
        % (t1 - t0, t2 - t1, t3 - t2, time.time() - t3))

    metrics = res["metrics"]
    fp = fingerprint()
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "fingerprint": fp, "attempted": res["attempted"],
              "failed": res["failed"], "failures": res["failures"],
              "metrics": metrics, "series": res["series"]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(record, f, indent=1)
    spans = os.path.join(run_dir, "w", "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(WORK, "results", "%s-s%d-spans.json" % (a.workload, a.seed)))
    shutil.rmtree(os.path.join(run_dir, "w"), ignore_errors=True)

    print("# %s seed=%d seconds=%g trace=%d nproc=%d mem_total_kb=%d" % (
        a.workload, a.seed, a.seconds, a.trace, fp["nproc"], fp["mem_total_kb"]))
    for k in sorted(metrics):
        print("%-36s %16s %s" % (k, "%.6g" % metrics[k]["value"]
                                 if metrics[k]["value"] is not None else "-", metrics[k]["unit"]))
    print("%-36s %16.6g %s" % ("fail_ratio", res["failed"] / max(1, res["attempted"]), "ratio"))
    for f in res["failures"][:5]:
        print("# failure: " + f)
    keys = PER_LAYER if a.trace else E2E
    missing = [k for k, _ in keys
               if not isinstance(metrics.get(k, {}).get("value"), (int, float))
               or not math.isfinite(metrics[k]["value"])]
    if missing:
        raise SystemExit("perfbench: the run measured no value for %s" % ", ".join(missing))
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k]["value"], "unit": u} for k, u in keys},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
