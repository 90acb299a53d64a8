#!/usr/bin/env python3
"""graft benchmark: one command, four seeded workloads.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from the checkout's sources (sbt, offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run
starts one JVM on a fresh work directory under perfbench/.work, which is
removed when the run ends (traces of --trace 1 runs are kept under
perfbench/.work/traces).

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1. The
exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "resources"]
HARNESS_SOURCES = [BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
JAR = BENCH / "target" / "graftbench.jar"
# class-data-sharing archive of the classes a run loads, dumped once per
# build: JVM start-up and the first Spark actions load ~20k classes, which
# otherwise adds seconds of class parsing to every run
CDS = BENCH / "target" / "graftbench.jsa"
STAMP = BENCH / "target" / "graftbench.stamp"
WORK = BENCH / ".work"
# a run must end within 180 s, or 900 s when it builds first
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890
BUILD_TIMEOUT_S = 600
DEADLINE = [time.monotonic() + RUN_LIMIT_S]
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    for base in LIB_SOURCES + HARNESS_SOURCES:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(home):
    for d in LIB_SOURCES[:1] + HARNESS_SOURCES:
        if not d.exists():
            fail(f"missing {d.relative_to(ROOT)}: run from the root of a full checkout")
    stamp = source_stamp()
    if STAMP.is_file() and STAMP.read_text() == stamp and JAR.is_file():
        return
    DEADLINE[0] = time.monotonic() + BUILD_RUN_LIMIT_S
    STAMP.unlink(missing_ok=True)
    CDS.unlink(missing_ok=True)
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    # class-data sharing only archives classes from jar files
    with zipfile.ZipFile(JAR, "w") as z:
        for p in sorted(CLASSES.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(CLASSES).as_posix())
    STAMP.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(home, workload, seed, seconds, trace, cds_flag):
    run_dir = WORK / f"run-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "result.json"
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xmx{HEAP}", cds_flag, "-Xlog:disable", "-Xlog:all=error:stderr", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{JAR}{os.pathsep}{Path(home) / 'jars' / '*'}",
           "graftbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work", str(run_dir), "--out", str(out)]
    # every byte the run writes stays in its work directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(1.0, DEADLINE[0] - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{workload} did not finish in time")
    try:
        if code != 0 or not out.is_file():
            fail(f"{workload} exited with code {code} and no result")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measured_run(home, workload, seed, seconds, trace, names):
    """The run whose figures are reported. The first run after a build
    first makes an unreported training run of every workload that dumps
    the class-data archive, so that every reported run starts the same way."""
    if not CDS.is_file():
        print("perfbench: training run to dump the class-data archive", file=sys.stderr)
        run_jvm(home, ",".join(names), seed, 0, 0, f"-XX:ArchiveClassesAtExit={CDS}")
    flag = f"-XX:SharedArchiveFile={CDS}" if CDS.is_file() else "-Xshare:auto"
    return run_jvm(home, workload, seed, seconds, trace, flag)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    wanted = names if args.workload == "all" else [args.workload]
    if len(wanted) > 1:
        DEADLINE[0] = float("inf")
    for w in wanted:
        if w not in names:
            fail(f"unknown workload {w}; choose from {', '.join(names)} or all")
    declared = spec["per_layer" if args.trace else "end_to_end"]
    home = spark_home()
    build(home)

    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in wanted:
        res = measured_run(home, w, args.seed, args.seconds, args.trace, names)
        got = res["metrics"]
        missing = [m["name"] for m in declared if m["name"] not in got]
        if missing and not args.trace:
            fail(f"{w} did not report {', '.join(missing)}")
        for m in declared:  # a layer this workload does not exercise reads 0
            got.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
        for e in res.get("errors", []):
            print(f"perfbench: {w}: check failed: {e}", file=sys.stderr)
        correct &= bool(res["correct"])
        attempted += int(res["attempted"])
        failed += int(res["failed"])
        prefix = "" if len(wanted) == 1 else f"{w}."
        for m in declared:
            v = got[m["name"]]
            metrics[prefix + m["name"]] = {"value": v["value"], "unit": m["unit"]}
            print(f"{w:14s} {m['name']:32s} {v['value']:>14.6g} {m['unit']}")
        extra = {k: v for k, v in got.items() if k not in {m["name"] for m in declared}}
        if extra:
            print(f"perfbench: {w}: also measured " +
                  ", ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in extra.items()),
                  file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
