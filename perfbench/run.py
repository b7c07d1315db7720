#!/usr/bin/env python3
"""KDC log analyzer benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark's JVM driver from source (sbt, `perfbench/build.sbt`) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run then

  1. generates the workload's inputs from the seed (`loggen.py`, cached
     by seed and size, outside every timed window),
  2. runs the workload in one JVM driver process (`perfbench.Main`,
     Spark `local[<cores>]`, one closed-loop client), which times its own
     cold set-up and the units of work and, with `--trace 1`, records
     spans and per-layer counters,
  3. checks every output against the generator's tallies, and
  4. prints one JSON line: `correct`, `attempted`, `failed` and the
     metrics, each with its unit (end-to-end ones untraced, per-layer
     ones traced).

Workloads, metrics and the layer each metric belongs to are described
in `perfbench/NOTES.md`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import loggen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
KEEP_INPUTS = 6

# The traffic of every workload: user and service cardinality and Zipf
# skew (`loggen.Spec`). These are assumptions, not fitted to a traffic
# sample; see NOTES.md.
SPEC = dict(users=2000, services=300, zipf_users=1.1, zipf_services=1.3)
# Per workload: input kind, its layout and size, and `unit_s`: a run
# cuts its --seconds window into units of unit_s seconds and measures
# that many units of work (at least three), the same count in every run
# whatever the machine's speed.
WORKLOADS = {
    "kdc_fleet": ("fleet", dict(hosts=4, days=8, sessions_per_file=300), 4.3),
    "kdc_stream_refresh": ("stream", dict(refreshes=40, hosts=4, sessions_per_file=20),
                           1.25),
}
# Untimed report sets over the warm-up input and over the measured
# input before kdc_fleet's measured ones (as in perfbench.FleetWorkload).
WARM_SMALL_SETS = 4
WARM_SETS = 2
# The bzip2 archive a traced kdc_fleet run also reads.
ARCHIVE = ("archive", dict(files=2, sessions_per_file=3000))

END_TO_END = {"setup_s": "s", "latency_p50_s": "s"}
PER_LAYER = {
    "kdc.classify.lines_per_s": "1/s",
    "kdc.fold.sessions_per_s": "1/s",
    "kdc.fold.self_s": "s",
    "kdc.scan.records.mb_per_s": "MB/s",
    "kdc.scan.records.sessions_per_s": "1/s",
    "kdc.scan.aligned.mb_per_s": "MB/s",
    "kdc.scan.aligned.sessions_per_s": "1/s",
    "kdc.scan.v2.mb_per_s": "MB/s",
    "kdc.scan.v2.sessions_per_s": "1/s",
    "kdc.scan.read_amplification": "ratio",
    "kdc.scan.shuffle_mb": "MB",
    "kdc.scan.bz2.records.mb_per_s": "MB/s",
    "kdc.scan.bz2.records.sessions_per_s": "1/s",
    "kdc.scan.bz2.aligned.mb_per_s": "MB/s",
    "kdc.scan.bz2.aligned.sessions_per_s": "1/s",
    "kdc.scan.bz2.v2.mb_per_s": "MB/s",
    "kdc.scan.bz2.v2.sessions_per_s": "1/s",
    "kdc.archive.report_s": "s",
    "kdc.archive.read_amplification": "ratio",
    "kdc.queries_s": "s",
    "kdc.sink_s": "s",
    "stream.latest_offset_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.files_per_batch": "count",
    "stream.refresh_p90_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.peak_rss_mb": "MB",
    "jvm.cpu_p50_s": "s",
    "failed_frac": "ratio",
    "trace.untraced_s": "s",
    "trace.traced_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

# Same module openings the repository's build passes to forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src/main"]
    for top in tops:
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            if "target" not in os.path.relpath(d, base).split(os.sep)
            for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the JVM driver; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the program's sources (build.sbt, src/main) are not beside perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        # reuse the build unless a source changed or its class dirs are gone
        classes = cached["classpath"].split(os.pathsep)[:2]
        if cached["digest"] == digest and all(map(os.path.isdir, classes)):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (log: %s)" % log)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def inputs(kind, params, seed):
    cache = os.path.join(BUILD, "inputs")
    data, meta = loggen.cached(cache, kind, seed, SPEC, **params)
    # keep the cache bounded: drop the least recently used inputs
    entries = sorted(glob.glob(os.path.join(cache, "*-v*")), key=os.path.getmtime)
    os.utime(os.path.dirname(data))
    for old in entries[:-KEEP_INPUTS]:
        if old != os.path.dirname(data):
            shutil.rmtree(old, ignore_errors=True)
    return data, meta


def run_jvm(classpath, run_dir, **args):
    """Run `perfbench.Main` with `key=value` arguments; return result.json."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "run=" + run_dir, "realm=" + loggen.HOME]
    cmd += ["%s=%s" % kv for kv in sorted(args.items())]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("JVM driver timed out after %d s (log: %s)" % (JVM_TIMEOUT_S, log))
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("JVM driver exited with %d (log: %s)" % (rc, log))
    with open(result) as f:
        return json.load(f)


def read_lines(d):
    out = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p) as f:
            out.extend(l.rstrip("\n") for l in f if l.strip())
    return sorted(out)


def check_batch(run_dir, meta, n_sets, archive=None):
    """Set-up's user report against the warm-up tally, the report sets
    against the input's tally, and the archive's against the archive's."""
    def reports(m):
        return loggen.Tally.from_json(m["tally"]).reports()
    warm, full = reports(meta["warmup"]), reports(meta)
    runs = [("setup", {"user": warm["user"]})] + \
        [("warm-small-%d" % k, warm) for k in range(WARM_SMALL_SETS)] + \
        [("warm-%d" % k, full) for k in range(WARM_SETS)] + \
        [(str(op), full) for op in range(n_sets)]
    if archive:
        runs.append(("archive", reports(archive)))
    attempted = failed = 0
    for op, expected in runs:
        for name, want in expected.items():
            attempted += 1
            got = read_lines(os.path.join(run_dir, "out", op, name))
            if got != want:
                failed += 1
                note_mismatch(run_dir, "set %s %s" % (op, name), got, want)
    return attempted, failed


def check_stream(run_dir, meta, n_refreshes):
    """The sink tables after each refresh against the tally of the
    refreshes landed so far."""
    acc = loggen.Tally()
    attempted = failed = 0
    for i in range(n_refreshes):
        acc.merge(loggen.Tally.from_json(meta["units"][i]))
        want = acc.reports()
        for name in ("user", "service"):
            attempted += 1
            p = os.path.join(run_dir, "state", "%05d" % i, name + ".tsv")
            got = []
            if os.path.exists(p):
                with open(p) as f:
                    got = sorted(l.rstrip("\n") for l in f if l.strip())
            if got != want[name]:
                failed += 1
                note_mismatch(run_dir, "refresh %d %s" % (i, name), got, want[name])
    return attempted, failed


def note_mismatch(run_dir, what, got, want):
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    print("perfbench: wrong output for %s: %d rows, expected %d; missing %s; "
          "unexpected %s (run dir %s)" % (what, len(got), len(want), missing,
                                          extra, run_dir), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    kind, params, unit_s = WORKLOADS[a.workload]
    data, meta = inputs(kind, params, a.seed)
    run_dir = os.path.join(BUILD, "runs", "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stream = kind == "stream"
    args = dict(workload=a.workload, input=data, seconds=a.seconds, unit_s=unit_s,
                trace=a.trace)
    archive = None
    if not stream:
        args.update(raw_bytes=meta["raw_bytes"], sessions=meta["tally"]["sessions"])
        if a.trace:
            archive_dir, archive = inputs(*ARCHIVE, a.seed)
            args.update(archive=archive_dir, archive_raw_bytes=archive["raw_bytes"],
                        archive_sessions=archive["tally"]["sessions"])
    res = run_jvm(classpath, run_dir, **args)
    for f in res["failures"]:
        print("perfbench: operation failed: " + f, file=sys.stderr)

    if stream:
        attempted, failed = check_stream(run_dir, meta, res["ops"])
    else:
        attempted, failed = check_batch(run_dir, meta, res["ops"], archive)
    for heavy in ("out", "state", "stream", "spark-local", "sink", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, heavy), ignore_errors=True)

    if a.trace:
        values = dict(res["metrics"], failed_frac=failed / attempted)
        values["jvm.cpu_p50_s"] = statistics.median(res["cpu_s"])
        units = PER_LAYER
    else:
        values = {
            "setup_s": res["setup_s"],
            "latency_p50_s": statistics.median(res["units_s"]),
        }
        units = END_TO_END
    missing = sorted(set(units) - set(values))
    if missing:
        fail("JVM driver reported no value for %s" % missing)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
