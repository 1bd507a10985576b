#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload cdc_append --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine (src/main/scala) and
the harness (perfbench/src) into .bench_build/ when their sources
changed, runs the workload, checks its outputs, prints every metric
with its unit and, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics (and writes the
spans). Full results accumulate in .bench_out/results.jsonl; the traced
run's spans go to .bench_out/trace-<workload>-<seed>.json.

Exit status: 0 when every output check passed and no operation failed,
1 when a check or an operation failed, 2 when the checkout cannot be
built or run.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("cdc_append", "cdc_keyed", "query_mix")
QUERY_DATA = {"seed": 42, "sf": 0.01}
TINY_DATA = {"seed": 42, "sf": 0.001}
HARNESS_TIMEOUT_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class SetupError(Exception):
    pass


def spark_jars(root):
    """The Spark jars the project builds against: build.sbt's
    unmanagedBase, else $SPARK_HOME/jars."""
    cands = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read(sbt))
        if m:
            cands.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in cands:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SetupError(f"no Spark jars in {cands or 'build.sbt or $SPARK_HOME'}")


def java_bin():
    j = shutil.which("java")
    if j is None:
        raise SetupError("no java on PATH")
    return j


def _read(path):
    with open(path, errors="replace") as fh:
        return fh.read()


def _sources(d, ext):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def _compile(srcs, out, classpath, stamp_extra=""):
    """scalac `srcs` into `out` unless the stamp of their contents matches."""
    h = hashlib.sha256(stamp_extra.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = out + ".stamp"
    digest = h.hexdigest()
    if os.path.exists(stamp) and _read(stamp) == digest:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SetupError(f"compilation into {out} failed")
    with open(stamp, "w") as fh:
        fh.write(digest)


def build(root):
    """Compile the engine and the harness; returns the runtime classpath."""
    main_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src):
        raise SetupError(f"no engine sources at {main_src}: run from the root of a checkout")
    jars = os.path.join(spark_jars(root), "*")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    engine = os.path.join(build_dir, "engine-classes")
    harness = os.path.join(build_dir, "perfbench-classes")
    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        _compile(_sources(main_src, ".scala"), engine, jars)
        res = os.path.join(root, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, engine, dirs_exist_ok=True)
        engine_stamp = _read(engine + ".stamp")
        _compile(_sources(bench_src, ".scala"), harness, engine + os.pathsep + jars, engine_stamp)
    return os.pathsep.join([engine, harness, jars])


def query_data(root, params):
    """The query_mix dataset for `params`, generated once per checkout
    (the generator is deterministic, so a cached copy is the same)."""
    with open(os.path.join(HERE, "tables.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read() + repr(sorted(params.items())).encode()).hexdigest()[:16]
    out = os.path.join(root, ".bench_out", f"qdata-{tag}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tables.generate(tmp, **params)
        try:
            os.replace(tmp, out)
        except OSError:  # a concurrent run published it first
            if not os.path.isdir(out):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def jvm(classpath, work, heap):
    # no hsperfdata file: the JVMs write nothing outside the checkout
    return [java_bin(), "-XX:-UsePerfData", *JVM_OPENS, f"-Xmx{heap}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath]


def run_harness(root, classpath, workload, seed, seconds, trace, work):
    """Run the harness JVM; returns its raw result dict."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work]
    if workload == "query_mix":
        args += ["--data", query_data(root, QUERY_DATA), "--tiny", query_data(root, TINY_DATA)]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        # own process group: a timeout kills the harness and the
        # generator process it started
        p = subprocess.Popen(jvm(classpath, work, "3g") + ["perfbench.Harness"] + args,
                             stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    raw_path = os.path.join(work, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(_read(log_path)[-6000:])
        raise SetupError(f"harness exited with {rc}")
    shutil.copy(raw_path, os.path.join(root, ".bench_out", f"raw-{workload}-{seed}-trace{trace}.json"))
    with open(raw_path) as fh:
        raw = json.load(fh)
    if raw.get("fatal"):
        sys.stderr.write(_read(log_path)[-6000:])
    return raw


def main(argv):
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the harness
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_out")
    work = os.path.join(out_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        classpath = build(root)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        t0 = time.time()
        raw = run_harness(root, classpath, a.workload, a.seed, a.seconds, a.trace, work)
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected_queries.json")) as fh:
        expected = json.load(fh)
    res = metrics.compute(raw, expected)
    res["wall_s"] = time.time() - t0
    names = metrics.END_TO_END if a.trace == 0 else metrics.PER_LAYER
    if a.trace == 1:
        res["tracing_overhead"] = metrics.tracing_overhead(
            os.path.join(out_dir, "results.jsonl"), a.workload, res["e2e"])
        with open(os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({"spans": res.pop("spans"), "tracing_overhead": res["tracing_overhead"]}, fh)
    else:
        res.pop("spans", None)
    with open(os.path.join(out_dir, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(res) + "\n")
    for c in res["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c.get('detail', '')}")
    src = res["e2e"] if a.trace == 0 else res["layer"]
    for n, (unit, _) in names.items():
        print(f"{a.workload} {n} = {src[n]:.6g} {unit}")
    if a.trace == 1:
        print(f"{a.workload} tracing overhead vs untraced medians: "
              f"{json.dumps(res['tracing_overhead'])}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": src[n], "unit": unit} for n, (unit, _) in names.items()}}))
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
