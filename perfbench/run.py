#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark runner from source (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run makes its inputs from the
seed, runs one JVM with `local[<cpus>]` and one closed-loop client, checks
the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the run is made twice, untraced and then
traced, and the metrics are the per-layer ones plus the tracing overhead of
each end-to-end metric. See METHOD.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import corpus  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("gate", "mr-wordcount")
VERIFY_SCRIPT = ROOT / "scripts" / "local_verify.py"
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
WORK = ROOT / ".perfbench-work"
TRACES = ROOT / ".perfbench-traces"

SETUPS = 3          # set-ups per run; setup_s is their median
# A traced invocation runs two JVMs (untraced, then traced), so each sets up
# once and times one pass.
TRACE_SETUPS = 1
TRACE_REPS = 1
HEAP = "3g"
VERIFY_QUERIES = 1  # gate queries per run re-run untimed for the oracle check
RUN_LIMIT_S = 170   # a run (both JVMs, checks included) must end by then
BUILD_LIMIT_S = 800

# mr-wordcount: the reference config's user and R, a Zipf corpus of a fixed
# token count (about 50 MB) split over four files, and a split size that
# gives each core several map tasks.
WC_USER = "cs6210"
WC_OUTPUTS = 8
WC_FILES = 4
WC_TOKENS = 5_600_000
WC_WARMUP_TOKENS = 240_000
WC_MAP_KB = 3072
WC_NOMINAL_JOB_S = 5.0
GATE_NOMINAL_PASS_S = 5.0  # one warm pass over the gate set, 4 CPUs

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: no Spark install (SPARK_HOME or spark-submit on PATH)")
        home = Path(os.path.realpath(submit)).parent.parent
    return Path(home) / "jars"


def sources_digest():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ENGINE_SOURCES, BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_proc(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group if it overruns."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {cmd[0]} exceeded {limit_s:.0f} s")


def build(jars):
    """Compile engine + runner with sbt unless the sources are unchanged."""
    stamp = BENCH / "target" / "perfbench.stamp"
    digest = sources_digest()
    if stamp.exists() and stamp.read_text() == digest:
        return
    env = dict(os.environ, PERFBENCH_SPARK_JARS=str(jars), COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine and runner")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                   "compile"], BUILD_LIMIT_S, cwd=BENCH, env=env,
                  stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise SystemExit("perfbench: build failed")
    stamp.write_text(digest)


def du(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def run_jvm(jars, workload, inp, seed, reps, setups, traced, work, verify_dir, deadline):
    """One runner JVM in an isolated run directory; returns (result, leftover bytes)."""
    run_dir = work / f"run-trace{int(traced)}"
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    out = run_dir / "result.json"
    cp = f"{BENCH / 'target' / 'scala-2.13' / 'classes'}{os.pathsep}{jars / '*'}"
    cmd = ["java", *[a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Runner", workload, str(inp),
           str(seed), str(reps), str(setups), str(int(traced)), str(out)]
    if verify_dir:
        cmd += [str(verify_dir), str(VERIFY_QUERIES)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    rc = run_proc(cmd, deadline - time.monotonic(), cwd=run_dir, env=env,
                  stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not out.exists():
        raise SystemExit(f"perfbench: runner exited with {rc}")
    result = json.loads(out.read_text())
    # What the engine left in its temp and local dirs after the JVM ended.
    leftover = du(tmp) + du(local)
    shutil.rmtree(run_dir)
    return result, leftover


def gate_inputs(work, seed, copies):
    """The seeded corpus and `copies - 1` byte-identical copies of it."""
    dirs = [work / f"data{i}" for i in range(copies)]
    dirs[0].mkdir()
    corpus.write_gate_corpus(dirs[0], seed)
    for d in dirs[1:]:
        shutil.copytree(dirs[0], d)
    return dirs


def wordcount_inputs(work, seed):
    data = work / "data"
    data.mkdir()
    files = [data / f"input_{i}.txt" for i in range(WC_FILES)]
    expected = corpus.write_wordcount_corpus(files, seed, WC_TOKENS)
    corpus.write_wordcount_corpus([data / "warmup.txt"], seed + 1, WC_WARMUP_TOKENS)
    spec = data / "config.ini"
    spec.write_text("\n".join([
        f"n_workers={os.cpu_count()}",
        f"input_files={','.join(str(f) for f in files)}",
        f"output_dir={work / 'output'}",
        f"n_output_files={WC_OUTPUTS}",
        f"map_kilobytes={WC_MAP_KB}",
        f"user_id={WC_USER}"]) + "\n")
    return spec, expected


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not ENGINE_SOURCES.is_dir() or not VERIFY_SCRIPT.is_file():
        log(f"no engine sources under {ROOT}; run from the root of a checkout")
        return 2
    start = time.monotonic()
    jars = spark_jars()
    build(jars)
    deadline = time.monotonic() + RUN_LIMIT_S
    gate = a.workload == "gate"

    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        nominal = GATE_NOMINAL_PASS_S if gate else WC_NOMINAL_JOB_S
        reps = TRACE_REPS if a.trace else max(1, round(a.seconds / nominal))
        if gate:
            dirs, expected = gate_inputs(work, a.seed, reps), None
            inp = ",".join(str(d) for d in dirs)
        else:
            inp, expected = wordcount_inputs(work, a.seed)
        verify = work / "verify" if gate else None
        setups = TRACE_SETUPS if a.trace else SETUPS
        result, leftover = run_jvm(jars, a.workload, inp, a.seed, reps, setups, False, work,
                                      verify, deadline)
        ops = result["ops"]
        oracle_ok = True
        if gate:
            oracle = checks.check_oracle(VERIFY_SCRIPT, dirs[0], verify)
            oracle_ok = oracle["fail"] == 0
            log(f"oracle: {oracle['exact']} exact, {oracle['ulp']} ulp, {oracle['fail']} fail "
                f"{oracle['failed']}, {oracle['rows_only']} rows-only")
        else:
            for o in ops:
                problems = checks.check_wordcount(f"{work / 'output'}_{o['pass']}", WC_USER,
                                                  WC_OUTPUTS, expected)
                o["ok"] = o["ok"] and not problems
                o["error"] = o["error"] or "; ".join(problems)
        for o in ops:
            log(f"pass {o['pass']} {o['name']}: construct {o['construct_s']:.3f} s, "
                f"action {o['action_s']:.3f} s" + ("" if o["ok"] else f", failed: {o['error']}"))
        failed = sum(1 for o in ops if not o["ok"])
        e2e = metrics.end_to_end(result)
        times = [o["construct_s"] + o["action_s"] for o in ops]
        value, level = metrics.tail(times)
        log(f"{len(times)} ops: p50 {statistics.median(times):.3f} s, "
            f"p{100 * level:.0f} {value:.3f} s; "
            f"set-ups {[round(s['setup_s'], 2) for s in result['setups']]} s")
        out = e2e
        if a.trace:
            traced, traced_leftover = run_jvm(jars, a.workload, inp, a.seed, reps, setups, True,
                                                 work, None, deadline)
            for o in traced["ops"]:
                if not o["ok"]:
                    log(f"traced pass {o['pass']} {o['name']} failed: {o['error']}")
            failed += sum(1 for o in traced["ops"] if not o["ok"])
            ops = ops + traced["ops"]
            out = dict(traced["layers"])
            out.update(metrics.setup_layers(traced))
            out["run.leftover_mb"] = traced_leftover / 2**20
            t_e2e = metrics.end_to_end(traced)
            out.update({f"overhead.{k}": t_e2e[k] - v for k, v in e2e.items()})
            TRACES.mkdir(exist_ok=True)
            trace_file = TRACES / f"{traced['run_id']}.json"
            trace_file.write_text(json.dumps({
                "run_id": traced["run_id"], "workload": a.workload, "seed": a.seed,
                "leftover_bytes": traced_leftover, "spans": traced["spans"]}))
            log(f"trace written to {trace_file.relative_to(ROOT)}")
        log(f"left behind in temp and local dirs: {leftover} bytes; "
            f"run took {time.monotonic() - start:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    unit = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in spec[k]}
    print(json.dumps({
        "correct": oracle_ok and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in sorted(out.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
