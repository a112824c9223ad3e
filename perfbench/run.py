#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark's
JVM side with sbt when their sources changed, runs one workload in a
fresh JVM, checks every output against the pinned expected results, and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see BENCHMARK.json). The full record of the run, with its environment
stamp and per-operation data, goes to .bench_results/; generated inputs,
ledgers and Spark scratch space to .bench_work/ (both removed by nothing
but the user, both git-ignored).

Maintainers re-pin expected outputs with --write-pins after checking the
same inputs against the DuckDB oracle (see perfbench/README.md).
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The curation rung's base (the rung is ten times this) and the stream.
CURATE_DOCS, CURATE_EMBEDDINGS = 1000, 400
STREAM_DOCS, STREAM_SLICES = 40, 2


def stream_order(seed):
    """The seed rotates the order in which the stream's slices arrive."""
    rot = seed % STREAM_SLICES
    return [(i + rot) % STREAM_SLICES for i in range(STREAM_SLICES)]


# workload -> writes its generated inputs into a directory, given the seed
WORKLOADS = {
    "curate_10xd": lambda d, seed: gen.write(d, CURATE_DOCS, CURATE_EMBEDDINGS),
    "stream_ingest": lambda d, seed: gen.write_slices(
        d, STREAM_DOCS, STREAM_SLICES, stream_order(seed)),
}
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to ROOT, sorted."""
    out = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(ROOT, rel)):
            out.append(rel)
    for top in ("src/main", "perfbench/src/main"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    """The checkout's commit when it is a git repository, else None (the
    source digest identifies the program either way)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_group(cmd, cwd, env, timeout, log):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait until it has ended."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(build_dir, digest):
    """sbt build of the program plus the benchmark; returns the runtime
    classpath. Reused while the sources are unchanged."""
    cp_file = os.path.join(build_dir, "perfbench.classpath")
    stamp_file = os.path.join(build_dir, "perfbench.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(build_dir, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false",
                    "compile", "export Runtime/fullClasspath"],
                   os.path.join(ROOT, "perfbench"), env, BUILD_LIMIT_S, log)
    with open(log) as f:
        lines = f.read().splitlines()
    marker = os.path.join("perfbench", "target")
    cps = [l.strip() for l in lines if marker in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        tail = "\n".join(lines[-20:])
        die(f"build failed (rc={rc}); see {log}\n{tail}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cps[-1]


def load_pins():
    path = os.path.join(HERE, "pins.json")
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)


def pin_key(res, op):
    if res["workload"] == "stream_ingest":
        return "order_" + "".join(map(str, stream_order(res["seed"])))
    return op["name"]


def check(res, pins):
    """Compare every operation's output with its pin. Returns the list
    of (op name, pass, reason) failures."""
    want = pins.get(res["workload"], {})
    bad = []
    for op in res["ops"]:
        key = pin_key(res, op)
        if not op["ok"]:
            bad.append((key, op["pass"], "threw: " + op["error"]))
        elif key not in want:
            bad.append((key, op["pass"], "no pinned result"))
        elif [op["rows"], op["digest"]] != [want[key]["rows"], want[key]["digest"]]:
            bad.append((key, op["pass"],
                        f"got {op['rows']} rows {op['digest']}, "
                        f"pinned {want[key]['rows']} rows {want[key]['digest']}"))
    return bad


def write_pins(res, pins):
    got = {}
    for op in res["ops"]:
        if not op["ok"]:
            die(f"cannot pin: {op['name']} threw: {op['error']}")
        key = pin_key(res, op)
        val = {"rows": op["rows"], "digest": op["digest"]}
        if got.setdefault(key, val) != val:
            die(f"cannot pin: {key} gave different results across passes")
    pins.setdefault(res["workload"], {}).update(got)
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--write-pins", action="store_true",
                    help="record this run's outputs as the expected results")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources next to {HERE}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    digest = source_digest()
    cp = build(build_dir, digest)
    t_start = time.time()  # the run's own time limit starts after a build

    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "input")
    t0 = time.perf_counter()
    WORKLOADS[a.workload](inputs, a.seed)
    gen_s = time.perf_counter() - t0
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(results, tag + ".json")
    for stale in (out, out[:-5] + ".spans.json"):
        if os.path.exists(stale):
            os.remove(stale)

    # A fixed, pre-touched heap: a heap that shrinks after the forced
    # collections between queries and faults its pages back in made runs
    # about 15% slower and no steadier.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--input", inputs, "--work", work,
              "--out", out])
    log = os.path.join(results, tag + ".log")
    limit = RUN_LIMIT_S - (time.time() - t_start)
    rc = run_group(cmd, ROOT, dict(os.environ), limit, log)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = "\n".join(f.read().splitlines()[-15:])
        die(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
            f"see {log}\n{tail}")
    with open(out) as f:
        res = json.load(f)

    res["setup_parts"]["generate_s"] = gen_s
    res["end_to_end"]["setup_s"] += gen_s
    pins = load_pins()
    if a.write_pins:
        write_pins(res, pins)
    bad = check(res, pins)
    attempted = len(res["ops"])
    res["stamp"] = {
        "workload": a.workload, "seconds": a.seconds, "cpus": res["cpus"],
        "heap_max_mb": res["heap_max_mb"], "source_digest": digest,
        "commit": git_commit(),
        "seed": a.seed, "inputs": res["inputs"]}
    res["correctness"] = {"attempted": attempted, "failed": len(bad),
                          "failed_frac": len(bad) / attempted,
                          "failures": [list(b) for b in bad]}
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        v = res[section].get(m["name"])
        if v is None:
            die(f"run reported no value for {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, p, why in bad[:20]:
        print(f"perfbench: {name} (pass {p}) wrong: {why}", file=sys.stderr)
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
