#!/usr/bin/env python3
"""graft benchmark: builds the engine and the benchmark from source, runs one
workload (or all of them) in a fresh JVM, checks the outputs, and prints every
metric with its unit. The last line of stdout is the result as JSON.

    python3 perfbench/run.py --workload cv_mixed --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

See perfbench/README.md for the workloads, the metrics and what each layer
metric should move.
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
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
RUN_LIMIT_S = 175.0  # a run (after the one-off build) must end within this
# Thread stacks of 16 MB: with the JVM default (1 MB), gate_dedup's batches
# fail with a StackOverflowError inside the gate store's parquet scan
# (a known engine defect, see perfbench/README.md).
JVM_OPTS = ["-Xmx3g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData"]

sys.path.insert(0, str(HERE))
import metrics  # noqa: E402  (the metric lists BENCHMARK.json declares)
import oracle  # noqa: E402
import tables  # noqa: E402

# the declared workloads, plus two that run by name only (see README.md)
WORKLOADS = metrics.DRIVER_WORKLOADS + ["batch_ops", "cv_large"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_to_end(cmd, log, timeout, **kw):
    """Runs cmd in its own process group with output to log; on timeout kills
    the whole group (sbt and java start children) and waits for it."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return "timeout"


# ---------------------------------------------------------------- build

def source_files():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + benchmark once per source tree; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no engine sources next to the benchmark (expected build.sbt and src/main/scala/graft under {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required to build the engine")
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = BUILD / "source.sha256", BUILD / "classpath.txt"
    sha = source_sha()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == sha:
        cp = cp_file.read_text().strip()
        if all(e.endswith(".jar") for e in cp.split(os.pathsep)):
            return cp, sha
    log = BUILD / "build.log"
    # jars, not class directories: the JVM's class-data sharing archives
    # (see run_one) cover classes from jars only
    rc = run_to_end(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
                    log, 850, cwd=HERE, env=sbt_env())
    lines = log.read_text().splitlines()
    cps = [l for l in lines if "perfbench_" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps or not all(e.endswith(".jar") for e in cps[-1].split(os.pathsep)):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(cps[-1])
    stamp.write_text(sha)
    return cps[-1], sha


# ---------------------------------------------------------------- environment

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_rev():
    if not (ROOT / ".git").exists():
        return "unavailable (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except Exception:
        return "unavailable"


# ---------------------------------------------------------------- one run

def run_one(wl, seed, seconds, trace, cp, sha, deadline):
    work = BUILD / "work" / wl
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = BUILD / "runs" / f"{wl}-seed{seed}-trace{trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    for stale in out.parent.glob(out.stem + "*"):
        stale.unlink()
    t_start = time.time()
    data_sha = ""
    if wl == "batch_ops":
        data_sha = tables.generate(work / "data", seed)
    load0, (tot0, steal0) = loadavg(), cpu_times()
    # Loading the engine's and Spark's classes takes a run's JVM 6-8 s and its
    # first set-up more; a class-data sharing archive, written at the exit of
    # the first run of a workload on this source tree, cuts a run by ~9 s.
    cds = BUILD / "cds" / f"{sha[:16]}-{wl}.jsa"
    cds.parent.mkdir(exist_ok=True)
    cds_opt = f"-XX:SharedArchiveFile={cds}" if cds.is_file() else f"-XX:ArchiveClassesAtExit={cds}"
    cmd = ["java", *JVM_OPTS, cds_opt, f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", wl, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
            "--data", str(work / "data"), "--out", str(out)]
    log = out.with_suffix(".log")
    rc = run_to_end(cmd, log, max(10.0, deadline - time.time()), cwd=ROOT)
    (tot1, steal1), load1 = cpu_times(), loadavg()
    if rc != 0 or not out.is_file():
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"{wl}: benchmark JVM failed ({rc}); see {log}", 1)
    res = json.loads(out.read_text())
    checks = res["checks"]
    if wl == "batch_ops":
        checks += oracle.compare(work / "data", work / "results")
    res["env"].update({
        "nproc": os.cpu_count(), "loadavg_before": load0, "loadavg_after": load1,
        "cpu_steal_pct": round(100.0 * (steal1 - steal0) / max(1, tot1 - tot0), 3),
        "git_revision": git_rev(), "source_sha256": sha, "seconds": seconds, "trace": trace,
        "wall_s": round(time.time() - t_start, 3), "tables_sha256": data_sha,
    })
    res["input_sha256"] = hashlib.sha256((res["input_sha256"] + data_sha).encode()).hexdigest()
    shutil.rmtree(work, ignore_errors=True)
    return res


def report(wl, res, trace):
    """Prints the run's metrics; returns (correct, metrics dict for the result line)."""
    ms = res["metrics"]
    if trace:
        names = [(n, u) for n, u, wls in metrics.PER_LAYER if wl in wls]
        absent = {n: u for n, u, wls in metrics.PER_LAYER if wl not in wls}
    else:
        names, absent = metrics.END_TO_END, {}
    out, missing = {}, []
    for n, unit in names:
        m = ms.get(n)
        if m is None or m["value"] is None:
            missing.append(n)
            continue
        out[n] = {"value": m["value"], "unit": m["unit"]}
    for n, m in ms.items():
        if m["value"] is not None and (n in out or trace):
            print(f"{wl:<11} {n:<44} {m['value']:>16.6g} {m['unit']:<6} n={m['samples']}")
    # a layer this workload does not exercise did no work
    out.update({n: {"value": 0, "unit": u} for n, u in absent.items()})
    bad = [c for c in res["checks"] if not c["ok"]]
    for c in res["checks"]:
        print(f"{wl:<11} check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for fl in res.get("failures", []):
        print(f"{wl:<11} failed op: {fl}")
    env = res["env"]
    print(f"{wl:<11} env " + json.dumps(env, sort_keys=True))
    print(f"{wl:<11} input_sha256 {res['input_sha256']} attempted={res['attempted']} failed={res['failed']}")
    if missing:
        print(f"{wl:<11} missing metrics: {', '.join(missing)}", file=sys.stderr)
    return not bad and not missing, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp, sha = build()
    wls = WORKLOADS if a.workload == "all" else [a.workload]
    ok_all, attempted, failed, merged = True, 0, 0, {}
    for wl in wls:
        res = run_one(wl, a.seed, a.seconds, a.trace, cp, sha, time.time() + RUN_LIMIT_S)
        ok, ms = report(wl, res, a.trace)
        ok_all &= ok
        attempted += res["attempted"]
        failed += res["failed"]
        merged.update(ms if len(wls) == 1 else {f"{wl}.{k}": v for k, v in ms.items()})
    print(json.dumps({"correct": ok_all, "attempted": attempted, "failed": failed, "metrics": merged}))
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
