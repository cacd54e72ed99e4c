#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark driver from source with sbt (offline) and caches the classpath
under perfbench/.build; later runs of the same sources start the JVM
directly. Inputs are generated from the seed (gen.py), every JVM writes
only under perfbench/.work, and the outputs are checked by check.py with
readers other than the program's. The last line of stdout is the result:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_templates", "curation_corpus")
SETUPS = 2            # JVM launches per run whose set-up time is measured
MAX_SLOTS = 3         # Spark task slots: min(nproc, MAX_SLOTS)
RUN_LIMIT_S = 170     # everything after the build must end within this
BUILD_LIMIT_S = 840
JVM_OPTS = [
    *[a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Xms2g", "-Xmx2g", "-XX:+UseSerialGC", "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData",
    "-Dfile.encoding=UTF-8",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
LAYERS = ("catalog", "sql", "queries", "pipelines", "formats", "sources",
          "sinks", "mutate", "generate", "operators", "plans")
LAYER_FACTS = ("formats.ns_row", "sources.rows_per_s", "sinks.files", "sinks.bytes_mb",
               "mutate.write_amp", "generate.rows_per_s", "plans.minhash_ns_row",
               "plans.simhash_ns_row", "plans.shingle_ns_row", "plans.winnow_ns_row",
               "plans.md5_prefix_ns_row", "plans.bpe_ns_row")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads: a change to any of it rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    out = HERE / ".build"
    cp_file, stamp_file = out / "classpath", out / "stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt, first run of these sources)")
    t0 = time.monotonic()
    with open(out / "build.log", "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspathAsJars"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
                timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            die("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (see {out / 'build.log'})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.monotonic() - t0:.1f}s")
    return cp


def start(cmd, env, logf, deadline):
    """Start one JVM, killed if it is still running at `deadline`."""
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=logf, text=True,
                            stdin=subprocess.DEVNULL)
    timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    timer.daemon = True
    timer.start()
    return time.monotonic(), proc


def ready(t0, proc):
    """(wall s, JVM CPU s) from launch to the JVM's READY line."""
    for line in proc.stdout:
        if line.startswith("READY "):
            return time.monotonic() - t0, int(line.split()[1]) / 1e9
    raise RuntimeError("JVM exited before it was ready")


def stop(proc):
    """Wait for a JVM to end (its deadline timer kills it if it hangs)."""
    proc.stdout.read()
    return proc.wait()


def layer_metrics(res):
    """Per-layer sums: spans of one traced pass (mean over traced passes)
    plus the set-up and probe spans, which run once."""
    spans = res["spans"]
    traced = [i for i, t in enumerate(res["pass_traced"]) if t]
    slots = res["slots"]
    m = {}
    for layer in LAYERS:
        once = [s for s in spans if s["layer"] == layer and s["pass"] < 0]
        per = [[s for s in spans if s["layer"] == layer and s["pass"] == p] for p in traced]

        def total(key, scale=1.0):
            per_pass = [sum(s[key] for s in ss) for ss in per] or [0]
            return (statistics.mean(per_pass) + sum(s[key] for s in once)) * scale

        wall = total("end_ns", 1e-9) - total("start_ns", 1e-9)
        m[f"{layer}.self_s"] = total("self_ns", 1e-9)
        m[f"{layer}.plan_s"] = total("plan_ns", 1e-9)
        m[f"{layer}.jobs"] = total("jobs")
        m[f"{layer}.tasks"] = total("tasks")
        m[f"{layer}.busy"] = total("task_ms", 1e-3) / (wall * slots) if wall > 0 else 0.0
        m[f"{layer}.shuffle_mb"] = total("shuffle_bytes", 1 / 2**20)
        m[f"{layer}.spill_mb"] = total("spill_bytes", 1 / 2**20)
        m[f"{layer}.gc_s"] = total("gc_ms", 1e-3)
    cat = [s for s in spans if s["layer"] == "catalog"]
    m["catalog.register_s"] = sum((s["end_ns"] - s["start_ns"]) * 1e-9
                                  for s in cat if s["name"] == "register")
    m["catalog.scan_tasks"] = sum(s["tasks"] for s in cat if s["name"].startswith("scan:"))
    for k in LAYER_FACTS:
        m[k] = res["facts"].get(k, 0.0)
    # pass 0 is cold and pass 1 an untimed warm-up; the traced and
    # untraced passes after them are compared
    passes = res["pass_s"]
    t_pass = [passes[i] for i in traced]
    u_pass = [x for i, x in enumerate(passes) if i > 1 and i not in traced]
    m["cpu.cold_pass_s"] = res["pass_cpu_s"][0]
    m["wall.cold_pass_s"] = passes[0]
    m["wall.pass_s"] = statistics.median(u_pass)
    m["trace.pass_s"] = statistics.median(t_pass)
    m["trace.overhead_pct"] = 100.0 * (m["trace.pass_s"] / m["wall.pass_s"] - 1.0)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not 1 <= a.seconds <= 120:
        die("--seconds must be between 1 and 120")
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala" / "graft").is_dir()):
        die(f"the program's sources (build.sbt, src/main/scala/graft) are not in {ROOT}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    cp = build()
    t_start = time.monotonic()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs, jvm_work = work / "in", work / "jvm"
    gen.generate(a.workload, a.seed, str(inputs))
    (work / "tmp").mkdir(parents=True)
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))

    procs = []

    def jvm(wdir, setup_only=False):
        wdir.mkdir()
        env = dict(os.environ, LC_ALL="C.utf8", SPARK_LOCAL_DIRS=str(wdir / "spark-local"))
        cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
               "graftbench.Main", a.workload, str(inputs), str(wdir), str(slots),
               str(a.seconds), str(a.trace), str(a.seed)] + (["setup-only"] if setup_only else [])
        t0, proc = start(cmd, env, logf, deadline)
        procs.append(proc)
        return t0, proc

    try:
        with open(work / "jvm.log", "w") as logf:
            t0, proc = jvm(jvm_work)
            wall_setup, cpu_setup = ready(t0, proc)
            if stop(proc) != 0:
                raise RuntimeError(f"JVM exited with {proc.returncode}")
            res = json.loads((jvm_work / "result.json").read_text())
            log(f"passes done at {time.monotonic() - t_start:.1f}s")
            problems = check.check(a.workload, work, res, a.seed)
            log(f"checks done at {time.monotonic() - t_start:.1f}s")
            # The other set-ups run one after another, with nothing else
            # running beside them. Each costs 7-11 s of wall time, which
            # bounds how many fit in a run.
            setups = [cpu_setup]
            for i in range(SETUPS - 1):
                t0, proc = jvm(work / f"setup_{i}", setup_only=True)
                setups.append(ready(t0, proc)[1])
                if stop(proc) != 0:
                    raise RuntimeError(f"set-up JVM exited with {proc.returncode}")
            log(f"set-ups done at {time.monotonic() - t_start:.1f}s")
    except Exception as e:  # noqa: BLE001 - report, then fail the run
        for p in procs:
            p.kill()
            p.wait()
        tail = (work / "jvm.log").read_text()[-3000:] if (work / "jvm.log").exists() else ""
        sys.stderr.write(tail)
        die(f"run failed: {e}")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    for f in res["failures"]:
        log(f"operation failed: {f}")

    if a.trace:
        metrics = layer_metrics(res)
        metrics["wall.setup_s"] = wall_setup
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_cpu_s": statistics.median(res["pass_cpu_s"][1:]),
            "peak_rss_mb": res["peak_rss_mb"],
            "output_mb": statistics.median(res["output_bytes"]) / 2**20,
        }
    shutil.rmtree(work, ignore_errors=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if units.keys() != metrics.keys():
        die(f"metrics differ from BENCHMARK.json: {sorted(units.keys() ^ metrics.keys())}")
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
