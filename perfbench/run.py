#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. The first run compiles src/main/scala and
perfbench/src with the Scala compiler jar that ships with Spark, into
perfbench/.build; later runs reuse that build until a source changes.
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics of a
traced run for --trace 1. The full record of the run (stamps, per-op
timings, check digests, failures with their exception text, and for a
traced run the spans) goes to perfbench/out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import expected  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
OUT = HERE / "out"
WORKLOADS = ("olap_1x", "olap_8x", "llm_pipeline", "corpus_ingest")
RUN_LIMIT_S = 175  # a run, set-up and check included; the build is extra
SMOKE_SECONDS = 1
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class Failure(Exception):
    """The benchmark could not run; no result is printed."""


def metric_units(kind):
    """{name: unit} of BENCHMARK.json's `end_to_end` or `per_layer`."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f)


# ------------------------------------------------------------ locations

def testdata(sf):
    """The directory of scale `sf`: $GRAFT_TESTDATA/sf, else the one
    TESTDATA.md documents."""
    if os.environ.get("GRAFT_TESTDATA"):
        return Path(os.environ["GRAFT_TESTDATA"]) / sf
    doc = ROOT / "TESTDATA.md"
    m = re.search(r"`([^`]*/%s)/?`" % re.escape(sf), doc.read_text()) \
        if doc.exists() else None
    if not m:
        raise Failure("TESTDATA.md documents no %s directory" % sf)
    return Path(m.group(1))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.exists() else None
    if not m:
        raise Failure("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


# --------------------------------------------------------------- build

def build(jars):
    """Compile graft and the benchmark's JVM half; return the class dir."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise Failure("no graft sources at %s/src/main/scala" % ROOT)
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler or not any(jars.glob("spark-core_*.jar")):
        raise Failure("no Spark and Scala compiler jars in %s" % jars)
    sources = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala"))
    h = hashlib.sha256(compiler[-1].name.encode())
    for f in sources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    log("compiling %d sources" % len(sources))
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / ("classes.%d" % os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / ("sources.%d" % os.getpid())
    argfile.write_text("\n".join(str(f) for f in sources))
    libs = [str(j) for n in ("compiler", "library", "reflect")
            for j in jars.glob("scala-%s-*.jar" % n)]
    t0 = time.time()
    try:
        p = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(libs),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
             "-d", str(tmp), "@" + str(argfile)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    finally:
        argfile.unlink()
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise Failure("compile failed:\n" + p.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    log("compiled in %.1f s" % (time.time() - t0))
    return classes


# ----------------------------------------------------------------- run

def launch(jars, classes, workload, seed, seconds, trace, data, run_dir, limit_s):
    """Run the JVM half; return (result dict, launch epoch seconds)."""
    out_file = run_dir / "result.json"
    (run_dir / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*,
    # outside the run directory.
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=%s" % (run_dir / "tmp"),
            "-Dderby.system.home=%s" % run_dir,
            "-Dlog4j2.configurationFile=%s" % (HERE / "log4j2.properties"),
            "-cp", "%s:%s" % (classes, jars / "*"),
            "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", str(data),
            "--run-dir", str(run_dir), "--out", str(out_file),
            "--split", expected.split_sql(seed),
            "--batches", str(expected.INGEST_BATCHES)]
    t_launch = time.time()
    # The JVM's stdout goes to our stderr: our stdout carries only the result.
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=limit_s)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if code != 0 or not out_file.exists():
        raise Failure("benchmark JVM exited with code %d" % code)
    return json.loads(out_file.read_text()), t_launch


# --------------------------------------------------------------- check

def check(res, scale):
    """Compare check-pass outputs with expected.json and rows-only digests
    with the recheck; return one problem string per mismatching op."""
    problems = []
    recheck = {r["op"]: r for r in res["recheck"]}
    pinned = json.loads(expected.EXPECTED.read_text()).get(scale, {})
    for r in res["check"]:
        op = r["op"]
        if "error" in r or "digest" not in r:
            continue  # an exception is already a failure; ingest ops return nothing
        if res["workload"] == "corpus_ingest":
            op = expected.corpus_key(res["seed"])
        if op in res["rows_only"]:
            again = recheck.get(op, {})
            if r["rows"] <= 0:
                problems.append("%s: rows-only entry returned no rows" % op)
            elif again.get("digest") != r["digest"]:
                problems.append("%s: digest changed between passes (%s, %s)"
                                % (op, r["digest"], again.get("digest")))
            continue
        if op not in pinned:
            problems.append("%s: no pinned expected output at %s" % (op, scale))
            continue
        want = pinned[op]
        got = {"rows": r["rows"], "digest": r["digest"]}
        if got != {"rows": want["rows"], "digest": want["digest"]}:
            problems.append("%s: got %s, expected %s" % (op, got, want))
    return problems


# ------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, t_launch, attempted, failed):
    untraced = [p for p in res["passes"] if not p["traced"] and not p["warmup"]]
    complete = [p for p in untraced if all(o["ok"] for o in p["ops"])]
    lat = sorted(o["s"] for p in untraced for o in p["ops"] if o["ok"])
    # the highest percentile with at least 10 samples beyond it
    k = max(0, len(lat) - 11)
    m = {
        "pass_s": median([p["wall_s"] for p in complete]),
        "pass_cpu_s": median([p["cpu_s"] for p in complete]),
        "setup_s": res["setup_epoch_ms"]["warm"] / 1e3 - t_launch,
    }
    # seconds from launch (or the previous mark) to each set-up mark
    prev, phases = t_launch, {}
    for mark, ms in res["setup_epoch_ms"].items():
        phases[mark] = ms / 1e3 - prev
        prev = ms / 1e3
    extra = {
        "peak_rss_mb": res["peak_rss_mb"],
        "op_p50_s": median(lat),
        "op_tail_s": lat[k] if lat else 0.0,
        "op_tail_percentile": 100.0 * (k + 1) / len(lat) if lat else 0.0,
        "op_samples": len(lat),
        "passes": len(complete),
        "failed_ratio": failed / attempted,
        "setup_phases_s": phases,
    }
    if res["workload"] == "corpus_ingest":
        extra["read_s"] = median([o["s"] for p in untraced for o in p["ops"]
                                  if o["op"] == "canonical" and o["ok"]])
        extra["write_amp"] = median([p["write_amp"] for p in untraced])
    return m, extra


def per_layer(res):
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p["wall_s"] for p in passes if not p["traced"] and not p["warmup"]]
    sums = []
    for p in traced:
        s = {}
        for rec in p["layers"]:
            if rec["op"] == "tables":
                s["tables.resolve_ms"] = rec["wall_ms"]
                s["tables.jobs"] = rec.get("sched.jobs", 0)
                continue
            for k, v in rec.items():
                if k != "op":
                    s[k] = s.get(k, 0.0) + v
            if rec["op"].startswith("ingest_"):
                s["ingest.batch_ms"] = s.get("ingest.batch_ms", 0.0) + rec["wall_ms"]
            if rec["op"] == "canonical":
                s["ingest.canonical_ms"] = rec["wall_ms"]
        s["write.bytes"] = p.get("state_bytes", 0.0)
        s["write.files"] = p.get("state_files", 0.0)
        s["trace.residual_ratio"] = s.get("trace.residual_ms", 0.0) / s["wall_ms"]
        sums.append(s)
    keys = sorted({k for s in sums for k in s})
    layers = {k: median([s.get(k, 0.0) for s in sums]) for k in keys}
    layers["trace.overhead_ratio"] = \
        median([p["wall_s"] for p in traced]) / median(untraced)
    return layers


# ---------------------------------------------------------------- main

def run_one(workload, seed, seconds, trace, smoke=False):
    """Run one workload; return (result line dict, artifact dict)."""
    started = time.time()
    sf = "sf0.001" if smoke else "sf0.1"
    data = testdata(sf)
    if not (data / "lineitem.parquet").exists():
        raise Failure("no test data at %s" % data)
    jars = spark_jars()
    classes = build(jars)
    run_dir = HERE / ".run" / ("%s-%d" % (workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    ticks0 = cpu_ticks()
    try:
        limit = RUN_LIMIT_S - (time.time() - started) if not smoke else 600
        res, t_launch = launch(jars, classes, workload, seed, seconds, trace, data,
                               run_dir, limit)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # the share of CPU time the host took from this machine: context
        res["steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    scale = sf + ("x8" if workload == "olap_8x" else "")
    problems = check(res, scale)
    attempted = len(res["check"]) + len(res["recheck"]) + \
        sum(len(p["ops"]) for p in res["passes"])
    failed = len(res["failures"]) + len(problems)
    e2e, extra = end_to_end(res, t_launch, attempted, failed)
    if trace:
        layers = per_layer(res)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        layers = {}
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    artifact = dict(res, end_to_end=dict(e2e, **extra), layers=layers,
                    problems=problems, result=line)
    return line, artifact


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload briefly at sf0.001 and check it")
    a = ap.parse_args(argv)
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.smoke:
            return smoke()
        line, artifact = run_one(a.workload, a.seed, a.seconds, a.trace)
    except Failure as e:
        log(str(e))
        return 2
    OUT.mkdir(exist_ok=True)
    name = "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)
    (OUT / name).write_text(json.dumps(artifact, indent=1) + "\n")
    for f in artifact["failures"]:
        log("FAILED %(op)s (pass %(pass)s): %(class)s: %(message)s" % f)
    for p in artifact["problems"]:
        log("WRONG " + p)
    for group in ("end_to_end", "layers"):
        for k, v in sorted(artifact[group].items()):
            log("%-28s %s" % (k, v))
    print(json.dumps(line))
    return 0


def smoke():
    """The benchmark's own test: every workload, traced and not, at sf0.001."""
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            line, artifact = run_one(w, 7, SMOKE_SECONDS, trace, smoke=True)
            ok = line["correct"]
            bad += not ok
            log("smoke %s trace=%d %s %s" % (w, trace, "ok" if ok else "FAILED",
                                              artifact["problems"] or artifact["failures"]))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
