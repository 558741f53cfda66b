#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (cached by a hash of the
sources under `.bench_build/`), generates the workload's tables (cached
by scale), runs one JVM that times whole passes over the workload's query
mix (its pass count scaled by `--seconds`, its query order fixed by
`--seed`), checks every benched query's output against its DuckDB
oracle with `tools/check.py`, and prints one JSON object as the last
stdout line. `--trace 0` reports the end-to-end metrics; `--trace 1`
reports the per-layer metrics of a traced run. Workloads are defined in
`perfbench/workloads.json`.
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
import zipfile

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DATA_SEED = 42
BUSY_LOAD = 1.0  # one-minute load per core above which a run is flagged
BUSY_STEAL = 0.05  # share of CPU time stolen by the host, ditto
QUIET_STEAL = 0.03  # most CPU time a reported pass may have lost to the host
DEADLINE_S = 160.0  # every run must end within 180 s of its build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src", "perfbench/workloads.json"]


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in a process group of its own and waits for it. The
    whole group is killed when it ends, times out or this script is
    interrupted, so no process outlives the run. Returns the exit code
    (None on timeout) and the captured output."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    timed_out, out = False, None
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    return (None if timed_out else p.returncode), out


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(spec):
    """Compiles engine + harness with sbt once per source state, packs
    the class directories into jars, trains the class-data sharing
    archive and caches the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={BUILD}/tmp"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    t0 = time.time()
    rc, text = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], 800,
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = [l for l in (text or "").splitlines() if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write((text or "")[-4000:])
        fail(f"build failed (sbt exit {rc})")
    cp = jar_dirs(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    train_archive(cp, spec)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jar_dirs(cp):
    """The classpath with each class directory packed into a jar, since
    class-data sharing archives classes from jars only."""
    out = []
    os.makedirs(os.path.join(BUILD, "jars"), exist_ok=True)
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, "jars", f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train_archive(cp, spec):
    """Runs every workload's queries once in a JVM that dumps the
    classes it loaded into a class-data sharing archive at exit. Every
    measured JVM maps that archive, so JVM and session start and the
    warm pass do not parse and verify the engine's and Spark's classes
    again; this cuts set-up by about a third."""
    t0 = time.time()
    queries = sorted({q for w in spec["workloads"].values()
                      for q in w["queries"]})
    out = os.path.join(BUILD, "archive-training")
    shutil.rmtree(out, ignore_errors=True)
    jvm(cp, ["--seed", "0", "--data", inputs(0.001), "--cores",
             str(len(os.sched_getaffinity(0))), "--queries", ",".join(queries),
             "--settle", "0", "--passes", "0", "--max-steal", "1",
             "--extra", "0", "--trace", "0"],
        out, "2g", time.time() + 600, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if not os.path.exists(ARCHIVE):
        fail(f"no class-data sharing archive written; see {out}/jvm.log")
    log(f"trained the class-data sharing archive in {time.time() - t0:.1f} s")


def inputs(sf):
    """The workload's tables, generated once per scale and generator
    version. The data seed is fixed so that every run measures the same
    work; `--seed` varies the query order."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"sf{sf}-{version}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        import gen
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        gen.generate(d, sf, DATA_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
        log(f"generated sf{sf} inputs in {time.time() - t0:.2f} s "
            "(not part of setup_s)")
    return d


def check_outputs(data, results, queries):
    """Maps each benched query to None (correct) or why it is wrong.
    Queries with an oracle go through the repo's `tools/check.py`, the
    strict DuckDB compare that mirrors the correctness gate; a query
    without one passes if it returned rows."""
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for q in queries:
        if q not in oracles:
            d = os.path.join(results, q)
            rows = pq.read_table(d).num_rows if os.path.isdir(d) else 0
            out[q] = None if rows else "no rows"
    checked = [q for q in queries if q in oracles]
    if checked:
        rc, text = run_group(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
             results] + checked, 120, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        for line in (text or "").splitlines():
            if line.startswith("OK "):
                out[line.split()[1]] = None
            elif line.startswith("FAIL "):
                q, _, why = line[len("FAIL "):].partition(": ")
                out[q] = why
        for q in checked:
            out.setdefault(q, f"tools/check.py gave no verdict "
                              f"(exit {rc})")
    return out


def cpu_ticks():
    """(stolen, total) CPU ticks since boot, from /proc/stat; a VM's host
    taking CPU from it shows up as stolen time."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return 0, 0


def machine_state():
    """Load average, CPU ticks and the other live JVMs, for the
    contention flag."""
    me = {os.getpid()}
    jvms = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == b"java" and int(pid) not in me:
            jvms.append(int(pid))
    return {"loadavg": os.getloadavg()[0], "jvms": jvms, "ticks": cpu_ticks()}


def jvm(cp, args, out, heap, deadline, opts=()):
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={out}/tmp",
           *opts]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--out", out] + args
    with open(os.path.join(out, "jvm.log"), "ab") as logf:
        rc, _ = run_group(cmd, max(1.0, deadline - time.time()), cwd=ROOT,
                          stdout=logf, stderr=logf)
    if rc is None:
        fail(f"JVM did not finish in time; see {out}/jvm.log", 3)
    if rc != 0:
        with open(os.path.join(out, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"JVM exited with {rc}", 3)


def keep_passes(passes, n):
    """The n passes a run reports, from pass 0 on (the settle passes
    before it are still speeding up): the last n during which the host
    stole at most QUIET_STEAL of the VM's CPU time; if fewer were that
    quiet, the least-stolen others make up the count. The choice looks
    at stolen time only, never at a pass's own timings."""
    passes = [p for p in passes if p["pass"] >= 0]
    quiet = [p for p in passes if p["steal"] <= QUIET_STEAL][-n:]
    rest = sorted((p for p in passes if p["steal"] > QUIET_STEAL),
                  key=lambda p: p["steal"])
    return sorted(quiet + rest[:n - len(quiet)], key=lambda p: p["pass"])


def percentile(xs, pct):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * pct // 100) - 1))
    return s[int(k)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale")
    a = ap.parse_args()
    # A SIGTERM unwinds like an exception, so run_group stops the children.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for rel in ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "tools/check.py", "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of an engine checkout")
    spec = load_spec()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    sf = a.sf if a.sf is not None else w["sf"]
    cores = len(os.sched_getaffinity(0))
    state0 = machine_state()

    cp = build(spec)
    data = inputs(sf)
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    common = ["--seed", str(a.seed), "--data", data, "--cores", str(cores),
              "--queries", ",".join(w["queries"])]

    # One JVM: set-up (session, function registration, warm pass), then
    # timed passes: the workload's settle passes, its fixed pass count,
    # scaled by --seconds against the benchmark's run_seconds, and on a
    # busy host a few more. Every run reports the same number of passes.
    # The JIT keeps speeding passes up for many passes, so a time-bound
    # window would change the measured mix from run to run.
    n_passes = max(1 + a.trace,
                   round(w["passes"] * a.seconds / bench["run_seconds"]))
    out = os.path.join(run_dir, "jvm")
    t_spawn = time.time() * 1e6
    jvm(cp, common + ["--settle", str(w["settle"]), "--passes", str(n_passes),
                      "--max-steal", str(QUIET_STEAL),
                      "--extra", str(w["extra"]), "--trace", str(a.trace)],
        out, w["heap"], deadline, [f"-XX:SharedArchiveFile={ARCHIVE}"])
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    setup_s = (res["warm_end_us"] - t_spawn) / 1e6
    warm_s = (res["warm_end_us"] - res["session_us"]) / 1e6
    if a.trace == 0:
        passes = keep_passes(res["passes"], n_passes)
    else:
        passes = [p for p in res["passes"] if p["pass"] >= 0 and not p["traced"]]
    kept = {p["pass"] for p in passes}
    runs = [q for q in res["queries"] if q["pass"] in kept]
    # A query that failed in a pass that is not reported still counts.
    dropped_errors = [q for q in res["queries"]
                      if q["pass"] not in kept and q["error"]]

    # Output check, outside every timed window.
    checked = check_outputs(data, os.path.join(out, "results"), w["queries"])
    checked.update({q: f"dump failed: {why}"
                    for q, why in res["dump_errors"].items()})
    wrong = {q: why for q, why in checked.items() if why}
    threw = {q["name"]: q["error"] for q in runs + dropped_errors if q["error"]}
    attempted = len(runs) + len(dropped_errors)
    failed = len(dropped_errors) + sum(
        1 for q in runs if q["error"] or q["name"] in wrong)
    fail_ratio = failed / attempted
    for q, why in sorted({**wrong, **threw}.items()):
        log(f"FAILED {q}: {why}")
    lat = [q["latency_ms"] for q in runs]
    tail_pct = w["tail_percentile"]
    beyond = sum(1 for x in lat if x > percentile(lat, tail_pct))
    state1 = machine_state()
    stolen, total = (b - a for a, b in zip(state0["ticks"], state1["ticks"]))
    steal = stolen / total if total else 0.0
    kept_steal = max(p["steal"] for p in passes)
    busy = steal > BUSY_STEAL or kept_steal > QUIET_STEAL or any(
        s["loadavg"] > BUSY_LOAD * cores or s["jvms"] for s in (state0, state1))
    log(f"contention: start load {state0['loadavg']:.2f} jvms {state0['jvms']}, "
        f"end load {state1['loadavg']:.2f} jvms {state1['jvms']}, "
        f"CPU stolen by the host {steal:.3f}, at most {kept_steal:.3f} "
        f"in a reported pass"
        + (" -- BUSY BOX, figures suspect" if busy else ""))
    log(f"{len(res['passes'])} timed passes, {len(passes)} reported "
        f"({sorted(kept)}), {attempted} queries, fail_ratio "
        f"{fail_ratio:.4f}, tail p{tail_pct} has {beyond} samples beyond it, "
        f"set-up {setup_s:.3f} s of which warm pass {warm_s:.3f} s")

    if a.trace == 0:
        values = {
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "setup_s": setup_s,
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": percentile(lat, tail_pct),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        }
    else:
        values = dict(res["layers"])
        values["check.fail_ratio"] = fail_ratio
        values["memory.peak_live_heap_mb"] = res["peak_live_heap_mb"]
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "sf": sf, "cores": cores, "busy": busy, "steal": steal, "start": state0,
              "end": state1, "fail_ratio": fail_ratio, "failures":
              {**wrong, **threw}, "setup_s": setup_s, "warm_pass_s": warm_s,
              "reported_passes": sorted(kept),
              "tail_percentile":
              tail_pct, "samples": attempted, "metrics": values}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    wanted = bench["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}", 4)
    print(json.dumps({
        "correct": not wrong and not threw,
        "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
