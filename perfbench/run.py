#!/usr/bin/env python3
"""Benchmark command for the Spark engine in this checkout.

    python3 perfbench/run.py --workload sql_analytics|doc_pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline) into .bench_build/; later
runs reuse the build while the sources are unchanged. Each run starts
one JVM (perfbench.Main) on local[nproc], which sets up its inputs
from --seed, times one cold pass and a fixed number of measured
passes, then checks its outputs. The last line of stdout is the JSON result; with
--trace 0 it carries the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. Any failed operation or check makes the exit code 1.
See perfbench/README.md for workloads, metrics and receipts.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")

# Pass counts are fixed, never a time window: a faster commit must be
# measured at the same point of the JIT warm-up curve as its parent.
# --seconds maps to a fixed measured-pass count through the nominal
# warm pass time of the workload.
NOMINAL_PASS_S = {"sql_analytics": 8.0, "doc_pipeline": 16.0}
JVM_HEAP = "-Xmx1g"  # heap cap only, no -Xms; heap_live_mb does not depend on it
RUN_LIMIT_S = 170  # the command must end within 180 s once built
JVM_LIMIT_S = 150  # leaves the oracle check its share of RUN_LIMIT_S
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile the program and the harness; returns the runtime classpath
    and the hash of the sources it was built from."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       timeout=850, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    lines = open(out_path).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {out_path}")
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        fail(f"sbt printed no classpath; log in {out_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


def load_json(path, default=None):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def save_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def oracle_check(res, run_dir, problems, built_at):
    """The repo's DuckDB oracle, unchanged, over this run's outputs."""
    o = res["oracle"]
    t0 = time.monotonic()
    out = os.path.join(run_dir, "oracle.log")
    with open(out, "w") as f:
        rc = run_group([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                        o["table_dir"], o["out_dir"]],
                       timeout=max(10, RUN_LIMIT_S - (time.monotonic() - built_at)),
                       stdout=f, stderr=subprocess.STDOUT)
    text = open(out).read()
    log(f"DuckDB oracle over {len(o['ops'])} ops: {time.monotonic() - t0:.1f} s")
    passed = set(re.findall(r"^PASS (\S+)", text, re.M))
    for name in o["ops"]:
        if name not in passed or rc != 0:
            problems.append(f"oracle: {name} " + (
                "timed out" if rc is None else "did not match DuckDB (see oracle.log)"))
    return len(o["ops"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    for need in ("src/main/scala/graft", "scripts/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    if spec is None:
        fail("BENCHMARK.json not found in the working directory")

    cp, stamp = build()
    built_at = time.monotonic()
    measured = max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))
    tag = f"{a.workload}-s{a.seed}"
    # oracle and digest records belong to one built program: a commit
    # switched in the same checkout is checked afresh
    program = f"{tag}-{stamp[:16]}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("retail", "docs", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    oracle_done = os.path.join(BUILD, "oracle", f"{program}.ok")
    result_file = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--measured", str(measured), "--trace", str(a.trace),
            "--run-dir", run_dir, "--out", result_file]
    env = dict(os.environ,
               SPARK_GRAFT_RETAIL_DIR=os.path.join(run_dir, "retail"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = ["java", JVM_HEAP, *ADD_OPENS, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", cp, "perfbench.Main", *args]
    log(f"{a.workload} seed={a.seed} measured={measured} trace={a.trace}")
    jvm_start = time.monotonic()
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
            rc = run_group(cmd, timeout=JVM_LIMIT_S - (time.monotonic() - built_at),
                           cwd=run_dir, env=env, stdout=jl, stderr=subprocess.STDOUT)
        log(f"JVM wall time {time.monotonic() - jvm_start:.1f} s")
        res = load_json(result_file)
        if rc != 0 or res is None:
            os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "jvm.log"),
                        os.path.join(BUILD, "logs", f"{tag}-t{a.trace}.log"))
            tail = open(os.path.join(run_dir, "jvm.log")).read().splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            fail("the benchmark JVM " + ("timed out" if rc is None else f"exited {rc}")
                 + " without a result", code=1)

        problems = [f"{f['pass']} {f['op']}: {f['error']}" for f in res["failures"]]
        attempted = res["attempted"]
        if not os.path.exists(oracle_done):
            attempted += oracle_check(res, run_dir, problems, built_at)
            if not any(p.startswith("oracle:") for p in problems):
                save_json(oracle_done, {"ops": res["oracle"]["ops"]})

        # digests must repeat across runs of one seed, pass by pass
        dig_file = os.path.join(BUILD, "digests", f"{program}.json")
        prev = load_json(dig_file)
        if prev is None:
            if not problems:
                save_json(dig_file, res["digests"])
        else:
            for op, ds in res["digests"].items():
                for i, (d, e) in enumerate(zip(ds, prev.get(op, []))):
                    attempted += 1
                    if d != e:
                        problems.append(f"{op} pass {i}: digest {d} != {e} of an "
                                        "earlier run of this seed")

        rec = res["record"]
        log("record: " + json.dumps(rec, sort_keys=True))
        log(f"session {res['session_s']:.3f} s, set-up {res['setup_inputs_s']:.3f} s")
        log("passes (wall_s / jit_s): " + ", ".join(
            f"{p['pass']}={p['wall_s']:.3f}/{p['jit_s']:.2f}" for p in res["passes"]))
        log("op medians (s): " + json.dumps(res["op_medians_s"], sort_keys=True))
        log(f"checks {res['checks_s']:.2f} s; live heap after each pass (MB): "
            + ", ".join(f"{x:.1f}" for x in res["live_heap_mb"]))
        if res["check_notes"]:
            log("checks: " + json.dumps(res["check_notes"], sort_keys=True))

        e2e = res["metrics"]
        results_dir = os.path.join(BUILD, "results")
        save_json(os.path.join(results_dir, f"{tag}-t{a.trace}.json"), res)
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(BUILD, "traces", f"{tag}.json"))
            base = load_json(os.path.join(results_dir, f"{tag}-t0.json"))
            if base:
                for m in ("pass_s", "first_pass_s", "op_geomean_s"):
                    u, t = base["metrics"][m]["value"], e2e[m]["value"]
                    log(f"trace overhead {m}: traced {t:.3f} s vs untraced {u:.3f} s "
                        f"({100 * (t / u - 1):+.1f}%)")
            else:
                log("trace overhead: no untraced run of this seed in this checkout yet")
            wanted = spec["per_layer"]
            values = {k: {"value": v} for k, v in res["per_layer"].items()}
        else:
            wanted = spec["end_to_end"]
            values = e2e
        metrics = {}
        for m in wanted:
            v = values.get(m["name"])
            if v is None:
                problems.append(f"metric {m['name']} was not measured")
                continue
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        for p in problems:
            log("FAILED " + p)
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": len(problems), "metrics": metrics}))
        sys.exit(1 if problems else 0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
