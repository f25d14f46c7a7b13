#!/usr/bin/env python3
"""The repository benchmark: one workload per run, in one JVM at local[4].

    python3 perfbench/run.py --workload submit_resume --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark from source (perfbench/build.py), runs
the workload, checks its outputs, and prints as the last stdout line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Exits 1 when an output check fails and 2 when
the run could not be made. Everything it writes stays under .bench_build/.
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources
import build  # noqa: E402

HEAP = "3g"
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# per-layer metric prefixes each workload exercises; the others read 0 on it
EXERCISED = {
    "submit_resume": ("scan.", "spans.", "html.", "algo.", "pipeline.", "sink.", "lineage.",
                      "stream.", "jvm.", "trace."),
    "ops_sf001": ("ops.", "jvm.", "trace."),
}


def fail(msg, code=2):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(code)


def select_metrics(spec, measured, workload, trace):
    """The metrics this run must print, in BENCHMARK.json order and units."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    known = {m["name"] for m in wanted}
    unknown = sorted(set(measured) - known)
    if unknown:
        fail(f"measured metrics missing from BENCHMARK.json: {unknown}")
    out = {}
    for m in wanted:
        name, unit = m["name"], m["unit"]
        if name in measured:
            if measured[name]["unit"] != unit:
                fail(f"{name}: unit {measured[name]['unit']} but BENCHMARK.json says {unit}")
            value = measured[name]["value"]
        elif trace and not name.startswith(EXERCISED[workload]):
            value = 0.0
        else:
            fail(f"{workload} did not measure {name}")
        if value is None:
            fail(f"{name} is not a number")
        out[name] = {"value": value, "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(EXERCISED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the ops_sf001 expectations to this file")
    a = ap.parse_args()
    os.chdir(ROOT)

    try:
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
        classpath = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        fail(f"cannot run: {e}")

    out_dir = os.path.join(".bench_build", "perfbench", "runs")
    work = os.path.join(".bench_build", "perfbench", "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_path = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    # -XX:-UsePerfData: the JVM would otherwise write its counters under the system temp dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--data", os.path.join("perfbench", "data"),
              "--out", result_path])
    if a.record:
        cmd += ["--record", a.record]
    if a.trace:
        cmd += ["--spans", os.path.join(out_dir, f"{tag}.spans.jsonl"),
                "--self", os.path.join(out_dir, f"{tag}.selftime.json")]
    try:
        # the program's own stdout lines go to stderr: the result is the only stdout line
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=170)
    except subprocess.TimeoutExpired:
        fail("run exceeded 170 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM exited with {res.returncode}")
    with open(result_path) as fh:
        report = json.load(fh)
    measured = report["per_layer"] if a.trace else report["end_to_end"]
    metrics = select_metrics(spec, measured, a.workload, a.trace)
    for name, ok in report["checks"].items():
        if not ok["ok"]:
            sys.stderr.write(f"[perfbench] check failed: {name}: {ok['detail']}\n")
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()
