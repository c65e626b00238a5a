#!/usr/bin/env python3
"""Repository benchmark: builds the benchmark from the checkout's sources,
runs one workload in one JVM and prints the result.

    python3 perfbench/run.py --workload pages_kg --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest     # checks of the benchmark itself
    python3 perfbench/run.py --pin          # re-record perfbench/pinned.tsv

Run it from the repository root. The build (sbt, offline) happens once per
source state and is cached under perfbench/target. The last line of standard
output is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1), each with its unit.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles program + benchmark; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cache = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {code})")
    classpath = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def java(classpath, work, args):
    """Runs the benchmark JVM; returns its stdout lines."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "graft.perfbench.Main", "--work", work,
            "--pinned", os.path.join(HERE, "pinned.tsv")] + args
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    return code, out.splitlines()


def tagged(lines, tag):
    for l in reversed(lines):
        if l.startswith(tag + " "):
            return json.loads(l[len(tag) + 1:])
    return None


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def report(spec, args, res):
    """Human-readable report, then the result line."""
    metrics_spec = spec["per_layer"] if args.trace == 1 else spec["end_to_end"]
    names = [m["name"] for m in metrics_spec]
    produced = res["metrics"]
    unknown = sorted(set(produced) - set(names))
    if unknown:
        fail(f"metrics not named in BENCHMARK.json: {unknown}")
    if args.trace == 0 and set(names) - set(produced):
        fail(f"end-to-end metrics not measured: {sorted(set(names) - set(produced))}")
    metrics = {}
    for m in metrics_spec:
        # a span or count of another workload's layer did not run here: 0
        metrics[m["name"]] = {"value": produced.get(m["name"], 0.0), "unit": m["unit"]}
    attempted, failed = res["attempted"], res["failed"]
    print(f"# {args.workload} seed {args.seed} trace {args.trace}: {attempted} runs attempted, "
          f"{failed} failed, error_rate {failed / attempted:.4f}, "
          f"medians over {res['samples']} runs")
    print("# output check: " + ("passed" if res["correct"] else "FAILED: " + "; ".join(res["problems"])))
    print(f"# untraced run walls (s): {', '.join(f'{w:.3f}' for w in res['run_walls_s'])}")
    print("# setup parts (s): " + ", ".join(f"{k} {v:.3f}" for k, v in res["setup_parts_s"].items()))
    for n in names:
        if n in produced:
            print(f"#   {n:36s} {metrics[n]['value']:>16.6g} {metrics[n]['unit']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def selftest(spec, classpath, work):
    code, lines = java(classpath, work, ["--mode", "selftest"])
    names = tagged(lines, "NAMES")
    ok = code == 0 and names is not None
    for kind in ("end_to_end", "per_layer"):
        want = [m["name"] for m in spec[kind]]
        got = (names or {}).get(kind, [])
        same = sorted(want) == sorted(got)
        print(f"[selftest] {'ok  ' if same else 'FAIL'} {kind} metric names equal BENCHMARK.json "
              f"({len(got)} printed, {len(want)} declared)", file=sys.stderr)
        ok = ok and same
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root", 2)
    spec = load_spec()
    if not (args.selftest or args.pin) and \
            args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}", 2)

    classpath = build()
    work = os.path.join(HERE, ".work", f"{args.workload or 'aux'}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if args.selftest:
            return selftest(spec, classpath, work)
        if args.pin:
            code, _ = java(classpath, work, ["--mode", "pin"])
            return code
        code, lines = java(classpath, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)])
        res = tagged(lines, "PERFBENCH")
        if code != 0 or res is None:
            fail(f"benchmark process exited {code} without a result")
        report(spec, args, res)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
