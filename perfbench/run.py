#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --write-corpus <dir>

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in one JVM on local[<cores>], and prints as the last
stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end_to_end metrics of
BENCHMARK.json, with --trace 1 its per_layer metrics; units come from
BENCHMARK.json. The line before it describes the run (environment,
input, failures). Everything the run writes stays under the build
directory and is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(classes, work, main, args):
    jvm = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return jvm + ["-cp", cp, main] + args


def run_java(cmd, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-corpus", metavar="DIR",
                    help="write the catalog workload's corpus to DIR and exit")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, digest = build.build()
    work = os.path.join(build.build_dir(), "work", "%s-%d" % (a.workload or "tool", os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            code, out = run_java(java_cmd(classes, work, "perfbench.SelfTest",
                                          [os.path.join(work, "spark-local")]), work)
            sys.stdout.write(out)
            return code
        if a.write_corpus:
            code, out = run_java(java_cmd(classes, work, "perfbench.CorpusGen",
                                          [os.path.abspath(a.write_corpus)]), work)
            return code
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        if a.workload not in [w["name"] for w in spec["workloads"]]:
            raise SystemExit("perfbench: unknown workload %r" % a.workload)
        code, out = run_java(java_cmd(classes, work, "perfbench.Main", [
            a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
            os.path.join(HERE, "expected")]), work)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if code != 0 or not lines:
            sys.stderr.write(out)
            raise SystemExit("perfbench: workload run failed (exit %s)" % code)
        res = json.loads(lines[-1])
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = res["per_layer"] if a.trace else res["end_to_end"]
        # a layer metric a workload does not exercise reads 0; an
        # end-to-end metric is missing only when every operation failed
        missing = [m["name"] for m in wanted if m["name"] not in got]
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
        info = dict(res["info"], git_commit=git_commit(), source_digest=digest,
                    unmeasured_metrics=missing)
        print(json.dumps({"info": info}, sort_keys=True))
        print(json.dumps({
            "correct": res["failed"] == 0 and res["attempted"] > 0 and not (
                missing and not a.trace),
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
