#!/usr/bin/env python3
"""Build the program and run one benchmark workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload tpch_x4 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --regen            # rewrite perfbench/expected/*.tsv

The program and the benchmark driver are compiled by the benchmark's own sbt
build (perfbench/build.sbt, which depends on the repository's build). The
build is redone only when a source file changed. The benchmark then runs in one
JVM started with the program's own run options. Its stdout is passed through;
the last line is the JSON result. Generated data, traces and logs go to
perfbench/work/.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
TMP = WORK / "tmp"
TARGET = BENCH / "target"
LAUNCH = TARGET / "launch.txt"
STAMP = TARGET / "launch.stamp"
WORKLOADS = ["tpch_x4", "pipeline_docs_x8", "sql_mix"]
FINGERPRINTED = ["tpch_x4", "sql_mix"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def files_under(*dirs):
    for d in dirs:
        if d.is_file():
            yield d
        elif d.is_dir():
            yield from sorted(p for p in d.rglob("*") if p.is_file())


def digest(paths):
    h = hashlib.sha1()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build_inputs():
    return list(files_under(ROOT / "build.sbt", ROOT / "project" / "build.properties",
                            ROOT / "src" / "main", BENCH / "build.sbt",
                            BENCH / "project" / "build.properties", BENCH / "src"))


def run_bounded(cmd, cwd, timeout, stdout, stderr, env=None):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def tail(path, n=40):
    try:
        return "\n".join(path.read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def build():
    """Compiles the program and the benchmark unless the sources are unchanged."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        sys.exit("perfbench: no program sources next to perfbench/ (expected build.sbt and src/main)")
    key = digest(build_inputs())
    if LAUNCH.is_file() and STAMP.is_file() and STAMP.read_text() == key:
        return
    WORK.mkdir(parents=True, exist_ok=True)
    TMP.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, TMPDIR=str(TMP))
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = WORK / "build.log"
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           BENCH, BUILD_TIMEOUT_S, out, subprocess.STDOUT, env)
    if code != 0 or not LAUNCH.is_file():
        print(tail(log), file=sys.stderr)
        sys.exit(f"perfbench: build failed (exit {code}); log in {log}")
    STAMP.write_text(key)


def launch(args):
    """Runs the benchmark JVM; returns (exit code, stdout lines)."""
    lines = LAUNCH.read_text().splitlines()
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    src = BENCH / "src" / "main" / "scala" / "perfbench"
    data_key = digest([src / f for f in ("Inputs.scala", "TpchGen.scala", "CorpusGen.scala", "Data.scala")])[:12]
    shutil.rmtree(TMP, ignore_errors=True)
    TMP.mkdir(parents=True)
    cmd = [java, f"-Dperfbench.expected={BENCH / 'expected'}", f"-Djava.io.tmpdir={TMP}"] + lines + [
        "perfbench.Main", "--work", str(WORK), "--data-key", data_key] + args
    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    out_path = logs / "driver.stdout"
    err_path = logs / "driver.stderr"
    # Spark's block manager and the JVM's temporary files stay in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(TMP))
    with open(out_path, "w") as out, open(err_path, "w") as err:
        code = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, out, err, env)
    shutil.rmtree(TMP, ignore_errors=True)
    if code != 0:
        print(tail(err_path), file=sys.stderr)
    return code, out_path.read_text(errors="replace").splitlines()


def result_line(lines):
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    ok = (isinstance(res, dict) and set(res) == {"correct", "attempted", "failed", "metrics"}
          and res["attempted"] >= 1)
    return lines[-1] if ok else None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--regen", action="store_true",
                    help="rewrite the committed result fingerprints from the current program")
    a = ap.parse_args()
    if not a.regen and a.workload is None:
        ap.error("--workload is required")
    build()
    if a.regen:
        for w in [a.workload] if a.workload else FINGERPRINTED:
            code, lines = launch(["--workload", w, "--seed", "0", "--seconds", "0", "--regen", "1"])
            print("\n".join(lines))
            if code != 0:
                sys.exit(f"perfbench: regenerating {w} failed (exit {code})")
        return
    code, lines = launch(["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace)])
    res = result_line(lines)
    if code != 0 or res is None:
        print("\n".join(lines), file=sys.stderr)
        sys.exit(f"perfbench: run failed (exit {code})")
    print("\n".join(lines[:-1]))
    print(res)


if __name__ == "__main__":
    main()
