#!/usr/bin/env python3
"""Layered benchmark of graft: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
harness (perfbench/, an sbt project that includes the library sources)
and builds the scaled relational corpus; both land in .bench_build/.
The last stdout line is the result object
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The line before it carries the workload's own metric names, the error
rate and the contention sentinel.

    python3 perfbench/run.py --workload <name|all> --repeat <k> [--seconds s]

runs k seeds per workload and prints each end-to-end metric's median and
quartiles against its bound from BENCHMARK.json.

    python3 perfbench/run.py --workload batch --print-digests

runs the batch workload once and prints the output digests its check
pass saw, with the processor count they were taken at (to refresh
perfbench/expected_digests.json after checking the outputs against the
DuckDB oracle with tools/localverify.py).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BASE = os.path.join(HERE, "corpus", "base")
DIGESTS = os.path.join(HERE, "expected_digests.json")
WORKLOADS = ["batch", "streaming"]
# the relational corpus is the base corpus replicated this many times
COPIES = 2
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, cwd, timeout, capture):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[perfbench] timed out after {timeout} s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), LIB_SRC]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Compile the harness with the library sources when they changed.

    Every source state compiles into the same sbt target directory, so
    the stamp records only the last state compiled (its hash, then the
    classpath); any other state recompiles.
    """
    stamp = os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp):
        have, cp = (open(stamp).read().split("\n", 1) + [""])[:2]
        if have == want and cp.strip():
            return cp.strip()
        os.remove(stamp)
    os.makedirs(BUILD, exist_ok=True)
    log(f"compiling the harness and the library (source state {want})")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_bounded(cmd, HERE, 600, capture=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out or "")
        raise SystemExit("[perfbench] build failed")
    with open(stamp, "w") as fh:
        fh.write(want + "\n" + lines[-1].strip())
    log(f"compiled in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def java_cmd(cp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return (["java"] + opens + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main"]
            + [str(a) for a in args])


def common_args(work):
    return ["--base", BASE, "--scaled", os.path.join(BUILD, f"corpus-x{COPIES}"),
            "--copies", COPIES, "--work", work, "--cpus", os.cpu_count() or 1,
            "--digests", DIGESTS]


def prepare_corpus(cp):
    scaled = os.path.join(BUILD, f"corpus-x{COPIES}")
    if os.path.exists(os.path.join(scaled, "_MANIFEST.json")):
        return
    log(f"building the x{COPIES} relational corpus with GenScale")
    shutil.rmtree(scaled, ignore_errors=True)
    work = os.path.join(BUILD, "work-prepare")
    code, _ = run_bounded(java_cmd(cp, ["--mode", "prepare"] + common_args(work)),
                          ROOT, 600, capture=False)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit("[perfbench] corpus build failed")


def one_run(cp, workload, seed, seconds, trace, echo=True):
    work = os.path.join(BUILD, f"work-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = (["--mode", "run", "--workload", workload, "--seed", seed,
             "--seconds", seconds, "--trace", trace,
             "--spawn-ms", int(time.time() * 1000)] + common_args(work))
    code, out = run_bounded(java_cmd(cp, args), ROOT, JVM_TIMEOUT_S, capture=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if echo:
        sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if code != 0 or not lines:
        raise SystemExit(f"[perfbench] {workload} run failed (exit {code})")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2]) if len(lines) > 1 else {}
    # keep the trace spans of traced runs for inspection
    for f in os.listdir(work):
        if f.startswith("trace-"):
            shutil.copy(os.path.join(work, f), os.path.join(BUILD, f))
    shutil.rmtree(work, ignore_errors=True)
    return result, detail


def repeat(cp, workloads, k, seconds):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in workloads:
        values = {}
        for seed in range(1, k + 1):
            res, det = one_run(cp, w, seed, seconds, 0, echo=False)
            info = det.get("perfbench", {})
            named = {k: round(v["value"], 4) for k, v in info.items()
                     if isinstance(v, dict) and set(v) == {"value", "unit"}}
            log(f"{w} seed {seed}: correct={res['correct']} "
                f"{ {m: round(v['value'], 4) for m, v in res['metrics'].items()} } "
                f"{named} {info.get('contention')} pass_s={info.get('pass_s')} "
                f"per_key_s={info.get('per_key_s')} "
                f"samples_ms={ {k: v for k, v in info.items() if k.endswith('samples_ms')} } "
                f"measure_s={info.get('measure_s')}")
            for m, v in res["metrics"].items():
                values.setdefault(m, []).append(v["value"])
        for m, vs in sorted(values.items()):
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            b = bounds.get(m)
            verdict = "" if b is None else (
                "ok" if spread < b / 3 else "WIDE" if spread <= b else "OVER")
            print(f"{w:17s} {m:10s} median {med:10.4f} q1 {q1:10.4f} q3 {q3:10.4f} "
                  f"spread {spread:6.3f} bound {b} {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--print-digests", action="store_true")
    a = ap.parse_args()

    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    if any(w not in WORKLOADS for w in workloads):
        raise SystemExit(f"[perfbench] unknown workload {a.workload}; one of {WORKLOADS}")
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(BASE):
        raise SystemExit("[perfbench] run from a graft checkout: library sources "
                         "or the base corpus are missing")
    cp = classpath()
    prepare_corpus(cp)
    if a.print_digests:
        _, det = one_run(cp, "batch", 1, 1, 0, echo=False)
        out = {"cpus": os.cpu_count() or 1, "batch": det["perfbench"]["digests"]}
        print(json.dumps(out, indent=1, sort_keys=True))
    elif a.repeat:
        repeat(cp, workloads, a.repeat, a.seconds)
    else:
        if len(workloads) != 1:
            raise SystemExit("[perfbench] name one workload (or use --repeat)")
        result, _ = one_run(cp, workloads[0], a.seed, a.seconds, a.trace)
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
