#!/usr/bin/env python3
"""graft benchmark: dsgrid query, dsgrid registration and iterative catalog.

Usage (from the repository root):

    python3 perfbench/run.py --workload dsgrid_query --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, untraced
    python3 perfbench/run.py --workload catalog_iterative --trace 1
    python3 perfbench/run.py --self-check              # injected faults must fail

The first run builds graft and the harness from the sources beside this
directory with sbt (offline) into $CARGO_TARGET_DIR (default .bench_build);
later runs reuse the build while the sources are unchanged. Each run starts
one JVM on local[<cores>], sets up, runs passes for --seconds, checks every
output and prints one summary line per metric, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics. Exit code 0 means every
operation succeeded and every output matched its expectation.
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

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dsgrid_query", "catalog_iterative")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(build_dir(), "sbt", "scala-2.13", "classes")


def ensure_built():
    stamp_file = os.path.join(build_dir(), "stamp")
    stamp = source_stamp()
    if os.path.isdir(classes_dir()) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log(f"building graft + harness into {build_dir()} (sbt, offline)")
    env = dict(os.environ, PERFBENCH_BUILD_DIR=build_dir())
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile"],
                   cwd=HERE, env=env, limit=BUILD_LIMIT_S)
    if rc != 0:
        sys.exit(f"build failed (sbt exit {rc})")
    os.makedirs(build_dir(), exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def run_child(cmd, cwd, env, limit):
    """Run cmd with its output on our stderr; kill its process group and wait
    if it outlives `limit` seconds. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit:.0f} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def canon(df):
    """Columns sorted by name, rows sorted: tools/check_oracle.py's canon."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def table_hash(df):
    """tools/check_oracle.py's table_hash; the recorded oracle hashes in
    expected/catalog_hashes.json were made with it."""
    h = hashlib.sha256()
    h.update(("|".join(f"{c}:{df[c].dtype}" for c in df.columns)).encode())
    for _, row in df.iterrows():
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


def check_catalog(work, inject):
    """Hash every pass's catalog result against the recorded oracle hash."""
    with open(os.path.join(HERE, "expected", "catalog_hashes.json")) as fh:
        expected = json.load(fh)["hashes"]
    if inject == "wrong_result":
        first = sorted(expected)[0]
        expected[first] = "0" * 16
    failures = []
    passes = sorted((d for d in os.listdir(work) if d.startswith("pass")), key=lambda d: int(d[4:]))
    for d in passes:
        for q, want in sorted(expected.items()):
            path = os.path.join(work, d, q)
            if not os.path.isdir(path):
                continue  # the query failed in the JVM and is counted there
            got = table_hash(canon(pd.read_parquet(path)))
            if got != want:
                failures.append(f"{d} {q}: hash {got}, oracle {want}")
    return failures


def run_workload(name, seed, seconds, trace, inject):
    """One run of one workload; returns (result dict for the JSON line, detail)."""
    t0 = time.time()
    work = os.path.join(build_dir(), "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    cores = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes_dir()}{os.pathsep}{spark_jars}", "perfbench.Main",
              "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--fixture", os.path.join(HERE, "fixture"),
              "--cores", str(cores), "--inject", inject])
    rc = run_child(cmd, cwd=work, env=dict(os.environ), limit=RUN_LIMIT_S - (time.time() - t0))
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.exit(f"{name}: benchmark JVM failed (exit {rc})")
    with open(result_file) as fh:
        detail = json.load(fh)
    failures = list(detail["failures"])
    failed = detail["failed"]
    if name == "catalog_iterative":
        extra = check_catalog(work, inject)
        failures += extra
        failed += len(extra)
    for d in os.listdir(work):
        if d not in ("result.json", "spans.json"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    detail["failed"], detail["failures"] = failed, failures[:20]
    detail["error_rate"] = failed / max(1, detail["attempted"])
    with open(result_file, "w") as fh:
        json.dump(detail, fh, indent=1)
    return {"correct": failed == 0, "attempted": detail["attempted"], "failed": failed,
            "metrics": detail["metrics"]}, detail


def summarize(name, detail):
    n = len(detail["samples"]["pass_wall_s"])
    for m, v in detail["metrics"].items():
        print(f"{name} {m} = {v['value']:.6g} {v['unit']}")
    m = detail["machine"]
    print(f"{name} error_rate = {detail['error_rate']:.6g} ({detail['failed']} failed of "
          f"{detail['attempted']} ops); passes = {n} (1 cold + {n - 1} warm; timings are medians "
          f"of the warm passes; setup_s is session start + input staging + median of "
          f"{len(detail['samples']['setup_s'])} set-ups); cores {m['cores_used']}/{m['nproc']}, "
          f"heap {m['max_heap_mb']:.0f} MB, external load {m['external_load']:.2f}, "
          f"fixture {m['fixture_hash']}" + ("" if detail["seed_used"] else ", seed unused"))
    for f in detail["failures"]:
        print(f"{name} FAILED: {f}")
    print(f"{name} details: {os.path.join(build_dir(), 'work', name)}/result.json (spans.json when traced)")


def self_check():
    """Injected faults must be counted as failed operations and make the
    command exit nonzero."""
    cases = [("dsgrid_query", "wrong_result"), ("dsgrid_query", "accept_invalid"),
             ("catalog_iterative", "wrong_result")]
    ok = True
    for name, fault in cases:
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", name,
                            "--seconds", "1", "--inject", fault], stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1]) if lines else {}
        good = p.returncode != 0 and last.get("failed", 0) > 0 and last.get("correct") is False
        ok &= good
        print(f"self-check {name} {fault}: exit {p.returncode}, failed {last.get('failed')} -> "
              f"{'PASS' if good else 'FAIL'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("none", "wrong_result", "accept_invalid"), default="none",
                    help="fault self-check: perturb an expectation or accept the invalid input")
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print(f"perfbench: no graft sources at {ROOT}/src/main/scala; run from a full checkout",
              file=sys.stderr)
        return 2
    ensure_built()
    if args.self_check:
        return self_check()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        res, detail = run_workload(name, args.seed, args.seconds, args.trace, args.inject)
        summarize(name, detail)
        results[name] = res
    if len(names) == 1:
        line = results[names[0]]
    else:
        line = {"correct": all(r["correct"] for r in results.values()),
                "attempted": sum(r["attempted"] for r in results.values()),
                "failed": sum(r["failed"] for r in results.values()),
                "metrics": {f"{n}.{m}": v for n, r in results.items() for m, v in r["metrics"].items()}}
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
