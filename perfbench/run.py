#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
benchmark from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. Every metric is
printed by name with its unit; the last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1). See
perfbench/README.md.
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
WORKLOADS = ("curate", "kb_extract")
JVM_LIMIT_S = 170  # the whole run must end within 180 s once built

# Same module flags and encoding the root build passes to forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file = BUILD / "stamp"
    cp_file = BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    log = proc.stdout
    (BUILD / "build.log").write_text(log)
    # `export` prints the runtime classpath as one bare line
    cps = [l.strip() for l in log.splitlines()
           if "scala-2.13/classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(log[-4000:])
        fail(f"build failed (exit {proc.returncode}); log in {BUILD / 'build.log'}")
    print(f"# built in {time.time() - t0:.1f} s", flush=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def commit_id():
    """Identify the sources measured: the git commit when there is one,
    else a hash of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10,
                             env=dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent)))
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + source_stamp()[:12]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT / 'src/main/scala'}; run from a checkout")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json missing at the checkout root")
    t_start = time.time()
    bench = spec()
    cp = build()
    t_built = time.time()

    work = BUILD / f"run-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    result_file = work / "result.json"
    trace_dir = BUILD / "traces"
    trace_file = trace_dir / f"{args.workload}-seed{args.seed}-{int(time.time())}.jsonl"
    if args.trace:
        trace_dir.mkdir(exist_ok=True)
    heap = "3g"
    java = shutil.which("java") or fail("java not found on PATH")
    cmd = [java, f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseG1GC",
           "-XX:ReservedCodeCacheSize=512m", "-Dfile.encoding=UTF-8",
           "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}", "-Dspark.ui.enabled=false",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work / "data"),
            "--result", str(result_file), "--trace-file", str(trace_file)]
    (work / "tmp").mkdir()
    log_path = BUILD / f"jvm-{args.workload}.log"
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                code = None
        if code != 0 or not result_file.exists():
            tail = log_path.read_text(errors="replace")[-3000:]
            sys.stderr.write(tail)
            fail("the benchmark JVM " + ("timed out" if code is None else f"exited {code}")
                 + f"; log in {log_path}")
        res = json.loads(result_file.read_text())
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    info = res["info"]
    info["commit"] = commit_id()
    info["heap"] = heap
    info["build_check_s"] = round(t_built - t_start, 3)
    info["wall_s"] = round(time.time() - t_start, 3)
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"traced={'yes' if args.trace else 'no'}")
    for k, v in info.items():
        print(f"# {k}: {v}")
    for c in res["checks"]:
        print(f"# check {'PASS' if c['ok'] else 'FAIL'}: {c['name']}"
              + (f" ({c['detail']})" if c["detail"] else ""))
    for e in res["errors"]:
        print(f"# error: {e}")

    key = "per_layer" if args.trace else "end_to_end"
    measured = res[key]
    metrics = {}
    for m in bench[key]:
        v = measured.get(m["name"])
        if v is None:
            if args.trace:  # a layer this workload does not call does no work
                v = {"value": 0.0, "unit": m["unit"]}
            else:
                fail(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    error_rate = failed / max(1, attempted)
    # every measured metric by name and unit, including those outside the
    # result object (the other mode's metrics, error rate, backlog)
    for k in ("end_to_end", "per_layer"):
        for name, v in sorted(res[k].items()):
            print(f"{name} = {v['value']:.6g} {v['unit']}")
    print(f"error_rate = {error_rate:.6g} ratio")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
