#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload sample_exact --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt (cached under .bench_build/ until a source file changes),
then one JVM generates the inputs from the seed, runs the CLI jobs, checks
every output and reports. The last line of stdout is the result object;
the lines before it name every metric with its unit and the check result.
The full record of the run is kept under .bench_build/records/.

--corrupt damages every job's output before it is checked, to show that
each check fails on a wrong output.
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
HARNESS = HERE / "harness"
BUILD = ROOT / ".bench_build"
DEFAULT_SEED = 1
HELD_OUT_SEED = 97
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose content decides what the build produces."""
    files = [ROOT / "build.sbt", HARNESS / "build.sbt"]
    for base in (ROOT / "project", HARNESS / "project"):
        files += sorted(p for p in base.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the harness; return the JVM launch recipe."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program to build under {ROOT} (build.sbt and src/main/scala are missing)")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = digest.hexdigest()
    launch_file = BUILD / "launch.json"
    if launch_file.is_file():
        launch = json.loads(launch_file.read_text())
        if launch.get("stamp") == stamp:
            return launch
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [sbt, "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           f"-Dsbt.ivy.home={BUILD / 'ivy2'}", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath", "print javaOptions"]
    print("perfbench: building the program and the harness", file=sys.stderr)
    t = time.time()
    # no network: resolve only from the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run(cmd, HARNESS, BUILD_TIMEOUT_S, stderr=subprocess.STDOUT, env=env)
    if code != 0:
        sys.stderr.write((out or "")[-4000:])
        fail("build timed out" if code is None else "build failed")
    lines = out.splitlines()
    at = next((i for i, l in enumerate(lines) if "scala-2.13/classes" in l and os.pathsep in l), None)
    # `print` lists the build's JVM options one per line as "* <option>"
    options = [l[2:].strip() for l in lines[at + 1:] if l.startswith("* ")] if at is not None else []
    if at is None or not options:
        sys.stderr.write(out[-4000:])
        fail("sbt printed no classpath or java options")
    launch = {"stamp": stamp, "classpath": lines[at].strip(), "java_options": options}
    launch_file.write_text(json.dumps(launch))
    print(f"perfbench: built in {time.time() - t:.0f} s", file=sys.stderr)
    return launch


def run(cmd, cwd, timeout, stderr, env=None):
    """Run `cmd` in its own process group and return (exit code, stdout);
    on timeout kill the whole group and return (None, None)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, text=True,
                            stdout=subprocess.PIPE, stderr=stderr)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    return proc.returncode, out


def main():
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json is missing")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    help="sample_exact, diff_nested, dedup_near or sample_avro_copy")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"input seed; {DEFAULT_SEED} is the default, {HELD_OUT_SEED} is held out")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    launch = build()
    name = f"{a.workload}_seed{a.seed}_trace{a.trace}_{int(time.time() * 1000)}"
    work = BUILD / "work" / name
    records, logs = BUILD / "records", BUILD / "logs"
    for d in (work, records, logs):
        d.mkdir(parents=True, exist_ok=True)
    record, log = records / f"{name}.json", logs / f"{name}.log"
    tmp = work / "tmp"
    tmp.mkdir()
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *launch["java_options"], f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-cp", launch["classpath"], "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--record", str(record),
           "--spec", str(ROOT / "BENCHMARK.json")] + (["--corrupt"] if a.corrupt else [])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        with open(log, "w") as err:
            code, out = run(cmd, ROOT, RUN_TIMEOUT_S, stderr=err, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"run {'timed out' if code is None else 'failed'}; log in {log.relative_to(ROOT)}")
    result = json.loads(out.strip().splitlines()[-1])
    kind = "per_layer" if a.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[kind]}
    if {k: v["unit"] for k, v in result["metrics"].items()} != declared:
        fail("the harness reported other metrics than BENCHMARK.json declares")

    rec = json.loads(record.read_text())
    st, en = rec["stamp_start"], rec["stamp_end"]
    steal = (en["steal_jiffies"] - st["steal_jiffies"]) / max(en["cpu_jiffies"] - st["cpu_jiffies"], 1) \
        if st["steal_jiffies"] is not None else float("nan")
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  nproc {rec['nproc']}  "
          f"heap {rec['heap_mb']} MiB  loadavg {st['loadavg']} -> {en['loadavg']}  "
          f"sibling JVMs {st['sibling_jvms']}  cpu steal {steal:.1%}")
    bad = [j for j in rec["jobs"] if not j["ok"]]
    print(f"check: {'ok' if result['correct'] else 'FAILED'}  {result['attempted']} jobs, "
          f"{result['failed']} failed, error_rate {result['failed'] / result['attempted']:.4g}")
    for j in bad[:5]:
        print(f"  {j['tag']}: {j['error']}")
    decisions = sorted({(d["op"], d["branch"], d["estimate"], d["threshold"])
                        for j in rec["jobs"] for d in j["decisions"]}, key=str)
    for op, branch, est, thr in decisions:
        print(f"decision: {op} -> {branch} (estimate {est}, threshold {thr})")
    for k, v in result["metrics"].items():
        print(f"{k:48s} {v['value']:.6g} {v['unit']}")
    print(f"record: {record.relative_to(ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
