#!/usr/bin/env python3
"""Retrieval benchmark: builds the engine with the benchmark driver and runs
one workload.

    python3 retrbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

The first run in a checkout compiles the engine's sources together with the
benchmark (sbt, offline); later runs reuse the build while no source file
changes. Every run starts one JVM, prints each metric by name and unit, and
ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and a span trace is written under retrbench/out/traces/).
Everything the build and the runs write stays under retrbench/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def fail(msg):
    print(f"retrbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout or on a signal to this
    process, kill the whole group and wait for it."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.communicate()
        fail(f"{cmd[0]} ran past {timeout} s and was stopped")
    finally:
        code, _child = _child.returncode, None
    return code, out


def on_signal(signum, _frame):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if c.is_dir():
            return c
    fail("no Spark jar directory found; set SPARK_HOME")


def source_stamp():
    h = hashlib.sha256(str(HERE).encode())
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if "sbt.repository.config" not in opts and repos.is_file():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}")
    stamp = source_stamp()
    stamp_file, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    (OUT / "sbt-tmp").mkdir(parents=True, exist_ok=True)
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           f"-Dretrbench.sparkJars={spark_jars()}",
           f"-Dsbt.global.base={OUT / 'sbt-global'}",
           f"-Djava.io.tmpdir={OUT / 'sbt-tmp'}", "-J-XX:-UsePerfData",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(),
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    classes = str(HERE / "target")
    cps = [l.strip() for l in out.splitlines() if l.strip().startswith(classes)]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def expected_metrics(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    kind = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in json.loads(spec.read_text())[kind]}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["serve", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    classpath = build()
    work = OUT / f"work-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    # -UsePerfData: no hsperfdata file outside the checkout.
    # CompileThresholdScaling: the JIT compiles hot methods after a fifth of
    # the usual calls, so per-call cost stops falling within the warm-up;
    # without it serve's point calls were still getting faster while timed
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.2",
           "--add-modules=jdk.incubator.vector", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "retrbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", str(work),
            "--floors", str(HERE / "floors.json"), "--result", str(result)]
    sys.stdout.flush()
    try:
        code, _ = run_child(cmd, RUN_TIMEOUT_S)
        if code != 0 or not result.is_file():
            fail(f"benchmark JVM exited with {code}")
        res = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = expected_metrics(a.trace == 1)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if want is not None and want != got:
        fail(f"printed metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
