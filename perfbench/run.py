#!/usr/bin/env python3
"""graft's benchmark: one command, every metric with its unit, every output
checked.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 16 --trace 0

Builds graft from `src/main/scala` together with the harness in
`perfbench/scala` (scalac from the Spark distribution's own jars, so nothing
is fetched), runs the JVM harness once, turns its raw record into metrics
(metrics.py) and prints them, one per line, then the result as one JSON
object on the last line. `--trace 1` installs the job listener and span
recorder, runs the kernel sweep and the heal probe, prints the per-layer
metrics and writes the spans to `.bench_run/trace-<workload>-<seed>.json`.

`--record` stores the workload's result digests (llm_curation) or reference
replay (monitor_stream) as the expected ones in perfbench/expected.json; run
it only when a change is meant to alter results.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

REPO = HERE.parent
WORKLOADS = ["llm_curation", "monitor_stream"]
EXPECTED = HERE / "expected.json"
HEAP = "2g"
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# build.sbt's javaOptions).
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
         "ok_ratio": "ratio", "heap_peak_mb": "MB"}


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark distribution found: set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    graft = REPO / "src" / "main" / "scala"
    if not graft.is_dir():
        die("graft's sources are missing: %s" % graft)
    files = sorted(graft.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    if not files:
        die("no Scala sources found")
    return files


def build(jars):
    """Compiles graft and the harness into one class directory, skipping the
    compile when the sources and the Spark jars are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    out = REPO / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = out / "graftbench-classes"
    stamp_file = out / "graftbench.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "graftbench-classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "graftbench-sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs))
    cp = str(jars / "*")
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, "@" + str(argfile)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def run_jvm(jars, classes, workload, seed, seconds, trace, root):
    out = root / "raw.json"
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_ANN_ROOT", None)
    env["SPARK_LOCAL_DIRS"] = str(root / "local")
    cmd = (["java"] + ["--add-opens=" + o for o in ADD_OPENS] +
           ["-Xmx" + HEAP, "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + str(root / "tmp"),
            "-Dspark.sql.warehouse.dir=" + str(root / "warehouse"),
            "-cp", "%s:%s" % (classes, jars / "*"), "graftbench.Main",
            workload, str(seed), str(seconds), "1" if trace else "0",
            str(root), str(out)])
    (root / "tmp").mkdir(parents=True)
    log = root / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=str(root), env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        die("harness failed (%s)" % code)
    return json.loads(out.read_text())


def check_expected(raw, record):
    """llm_curation: compare every op's digest with the stored one and fail
    the ops that differ. monitor_stream: compare the reference replay with
    the stored one and fail the run when they differ."""
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    mine = expected.setdefault(raw["workload"], {})
    if raw["reference"] is not None:
        if record:
            mine.clear()
            mine.update(reference=raw["reference"])
            EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
            print("perfbench: recorded the reference replay", file=sys.stderr)
        if mine.get("reference") != raw["reference"]:
            raw["problems"].append("monitor: reference replay %s, expected %s" % (
                json.dumps(raw["reference"], sort_keys=True),
                json.dumps(mine.get("reference"), sort_keys=True)))
        return
    if record:
        seen = {}
        for o in raw["ops"]:
            if o["ok"]:
                if seen.setdefault(o["name"], o["digest"]) != o["digest"]:
                    die("%s: digest differs between passes; not recording" % o["name"])
        mine.clear()
        mine.update(sorted(seen.items()))
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
        print("perfbench: recorded %d digests for %s" % (len(seen), raw["workload"]),
              file=sys.stderr)
    for o in raw["ops"]:
        if o["ok"] and mine.get(o["name"]) != o["digest"]:
            o["ok"] = False
            o["error"] = "digest %s, expected %s" % (o["digest"], mine.get(o["name"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    # a TERM must still stop the JVM and delete the run root (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes = build(jars)
    runs = REPO / ".bench_run"
    root = runs / ("%s-%d-%d" % (a.workload, os.getpid(), time.time_ns()))
    root.mkdir(parents=True)
    try:
        raw = run_jvm(jars, classes, a.workload, a.seed, a.seconds, a.trace == 1, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    check_expected(raw, a.record)
    phase = "traced" if a.trace else "timed"
    ops = [o for o in raw["ops"] if o["phase"] == phase]
    failed = [o for o in ops if not o["ok"]]
    problems = raw["problems"] + ["%s (%s pass %d): %s" % (o["name"], o["phase"], o["pass"], o["error"])
                                  for o in raw["ops"] if not o["ok"]]
    for p in problems:
        print("FAILED " + p, file=sys.stderr)

    if a.trace:
        values, trace = metrics.per_layer(raw)
        units = metrics.per_layer_units()
        (runs / ("trace-%s-%d.json" % (a.workload, a.seed))).write_text(json.dumps(
            {"workload": a.workload, "seed": a.seed, "spans": trace}, indent=0))
    else:
        values, tail = metrics.end_to_end(raw)
        units = UNITS
        print("op_tail_s is p%d of %d per-op mean latencies (%d beyond it)" %
              (tail["percentile"], tail["samples"], tail["beyond"]))
    print("set-up %.3f s (session start %.3f s, warm-up %.3f s); passes: %s" % (
        raw["setup_s"], raw["session_start_s"], raw["warmup_s"],
        ", ".join("%s %.3f s" % (x["phase"], x["seconds"]) for x in raw["passes"])))
    for k, v in values.items():
        print("%-44s %14.6g %s" % (k, v, units[k]))
    print("inputs: " + json.dumps(raw["inputs"], sort_keys=True))
    correct = not problems
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
