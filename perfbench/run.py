#!/usr/bin/env python3
"""Serve-path benchmark: one run of one workload against graft's HTTP server.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --manifest      # rebuild perfbench/manifest.json

Run from the repository root. Builds the server and the benchmark from
source (perfbench/build.py), starts one JVM that sets the server up and
drives it, then prints a report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Everything the run
writes lands under .bench_build/perfbench/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["read_mix", "schema_probe", "ingest_watch"]
JVM_TIMEOUT_S = 170
# forked JVMs need these to run Spark 4 outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    return len(os.sched_getaffinity(0))


def jvm(mode, args, out_file):
    """Runs ServeBench in a fresh work directory; returns its JSON output."""
    cp = build.build()
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dfile.encoding=UTF-8", "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.ServeBench", mode,
            "--data", os.path.join(OUT, "data"), "--out", out_file] + args
    log = os.path.join(OUT, f"{mode}.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S if mode == "run" else 3600)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"benchmark JVM failed ({code}); log: {log}")
    with open(out_file) as fh:
        return json.load(fh)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown (not a git checkout)"


def make_manifest():
    raw = jvm("manifest", [], os.path.join(OUT, "manifest_raw.json"))
    print(json.dumps(metrics.manifest(raw), indent=1))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--manifest", action="store_true", help="rebuild the eligibility manifest")
    a = ap.parse_args()
    if a.manifest:
        return make_manifest()
    if not a.workload:
        ap.error("--workload is required")
    os.makedirs(OUT, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    raw = jvm("run", ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--manifest", os.path.join(HERE, "manifest.json")],
              os.path.join(OUT, name + ".raw.json"))
    raw["git_commit"] = git_commit()
    report, result = metrics.summarize(raw)
    with open(os.path.join(OUT, name + ".report.txt"), "w") as fh:
        fh.write("\n".join(report) + "\n")
    print("\n".join(report))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
