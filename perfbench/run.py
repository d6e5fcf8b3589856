#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <ingest|dashboard|analytics|all>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark harness from source on first use (sbt,
offline), then runs the harness in one JVM. With `--trace 0` the last line
holds the end-to-end metrics named in BENCHMARK.json, with `--trace 1` the
per-layer ones. `--workload all` runs the three workloads in one JVM and
prints every workload's own metrics by name and unit. A workload that
BENCHMARK.json does not list prints the metrics it measured.

Tests: `sbt test` in perfbench/, and
`python3 -m unittest discover -s perfbench -p 'test_*.py'`.

Exits 0 only when every output check passed. A JVM that runs past
(seconds + 130 s) per workload is stopped and the run reported as failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["ingest", "dashboard", "analytics"]
# Time each workload may take beyond its measured seconds: session start,
# set-up with warm-up, and the output checks. One workload at 20 s stays
# within 150 s.
ALLOWANCE_S = 130
BUILD_DEADLINE_S = 850

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest():
    """Hash of everything the build reads, to tell a stale build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """The harness's runtime classpath, compiling first if sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("[perfbench] engine sources (src/main/scala) not found; "
                         "run from a full checkout")
    cp_file, stamp_file = os.path.join(TARGET, "classpath"), os.path.join(TARGET, "digest")
    want = digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as c:
                    return c.read()
    log("building engine and benchmark from source")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=sys.stderr, text=True, timeout=BUILD_DEADLINE_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cp, args, work, out, deadline):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out])
    remaining = max(10, deadline - time.time())
    # on timeout, subprocess.run kills the JVM and waits for it
    p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=remaining)
    if p.returncode != 0:
        raise SystemExit(f"[perfbench] benchmark JVM failed (exit {p.returncode})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    budget = len(workloads) * (args.seconds + ALLOWANCE_S)
    deadline = time.time() + budget
    spec = bench_spec()
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        try:
            result = run_jvm(cp, args, work, out, deadline)
        except subprocess.TimeoutExpired:
            log(f"benchmark JVM passed its {budget} s deadline and was stopped")
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        check_dir = os.path.join(work, "check-analytics")
        if "analytics" in result["workloads"]:
            import oracle_check
            bad = oracle_check.check(check_dir)
            a = result["workloads"]["analytics"]
            for q, why in bad.items():
                log(f"analytics check: {q}: {why}")
            # every execution of a query with a wrong result failed
            a["failed"] += round(a["attempted"] * len(bad) / len(json.load(
                open(os.path.join(check_dir, "oracle_sql.json")))))
        if args.trace:
            os.makedirs(os.path.join(TARGET, "last-trace"), exist_ok=True)
            shutil.copy(out + ".spans.jsonl", os.path.join(
                TARGET, "last-trace", f"{args.workload}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    runs = result["workloads"]
    attempted = sum(r["attempted"] for r in runs.values())
    failed = sum(r["failed"] for r in runs.values())
    if args.workload == "all":
        metrics = {}
        for w, r in runs.items():
            metrics[f"{w}.setup_s"] = (r["metrics"]["setup_s"], "s")
            metrics[f"{w}.error_rate"] = (r["failed"] / max(1, r["attempted"]), "ratio")
            metrics[f"{w}.heap_peak_mb"] = (r["metrics"]["heap_retained_mb"], "MB")
            for name, value, unit in r["detail"]:
                metrics[name] = (value, unit)
        for name, (value, unit) in metrics.items():
            shown = "n/a (fewer than 11 samples)" if value is None else f"{value} {unit}"
            print(f"{name} = {shown}")
    else:
        r = runs[args.workload]
        source = r["layers"] if args.trace else r["metrics"]
        if args.workload in {w["name"] for w in spec["workloads"]}:
            # a layer the workload does not use did no work: 0
            kind = "per_layer" if args.trace else "end_to_end"
            metrics = {m["name"]: (source.get(m["name"], 0.0), m["unit"]) for m in spec[kind]}
        else:
            metrics = {k: (v, "") for k, v in source.items()}
    # in --workload all, a tail with too few samples is reported as n/a
    correct = failed == 0 and (args.workload == "all" or
                               all(v is not None for v, _ in metrics.values()))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
