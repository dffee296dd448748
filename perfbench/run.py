#!/usr/bin/env python3
"""The repo's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {migrate,queries}
        --seed N --seconds S --trace {0,1}

Run from the repo root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Each run then

  1. starts one JVM (perfbench.Main) on local[N], N = min(4, nproc), with
     a fixed 3 GiB heap, and while it starts generates the sf0.1 input
     tables (gen.py): from --seed for queries, from MIGRATE_SEED for
     migrate;
  2. lets the JVM warm up with untimed passes over those tables (migrate:
     two; queries: one, on a fixture copy of its own), then time whole
     passes for --seconds (at least three);
  3. checks the passes' output with DuckDB (check.py) and runs the
     checker's self-test on the last pass's output;
  4. prints one line per pass (wall, CPU, GC, JIT, steal) and, last, one JSON
     object: with --trace 0 the end-to-end metrics, with --trace 1 the
     per-layer metrics (medians over the traced passes, plus the layer
     probes). A traced run also writes perfbench/work/<workload>/
     spans.jsonl and layers.json and prints the tracing overhead.

setup_s counts from this script's start to the end of the JVM's warm-up,
less the one-time build.
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

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
HEAP = "3g"
CORES = min(4, os.cpu_count() or 1)
TIMEOUT_S = 150
WORKLOADS = ("migrate", "queries")
# migrate's inputs do not depend on --seed. The program's batch writer
# breaks the packet reserve on some statements (see check.py), and which
# ones depends on the data; on fixed inputs it is the same statements in
# every run, so the failed share of operations is the same in every run.
MIGRATE_SEED = 0
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]



def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the built benchmark and the seconds the build took."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read(), 0.0
    t = time.time()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if os.path.join("perfbench", "target") in l and ":" in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip(), time.time() - t


def run_jvm(cp, workload, work, fixture, seconds, trace, deadline, make_inputs):
    """Starts the JVM, writes the inputs while it starts up, then relays its
    output and returns its result."""
    java = shutil.which("java") or fail("java not found")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -UsePerfData: no hsperfdata file outside the work directory
    cmd = ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={work}/derby.log"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--fixture", fixture,
              "--work", work, "--cores", str(CORES),
              "--seconds", str(seconds), "--trace", str(trace)])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        watchdog = threading.Timer(max(1.0, deadline - time.time()), p.kill)
        watchdog.start()
        try:
            make_inputs()
            open(os.path.join(work, "inputs.ready"), "w").close()
            for line in p.stdout:
                print(line.rstrip(), flush=True)
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
            p.wait()
    if p.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"{workload}: JVM exited with {p.returncode} (log: {log})")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not next to perfbench/", 2)
    # every per-layer metric, with its unit; a workload reports 0 for a
    # layer it does not exercise
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        layer_metrics = [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]

    cp, build_s = build()
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import check
    import gen

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fixture = os.path.join(work, "fixture")
    seed = MIGRATE_SEED if a.workload == "migrate" else a.seed
    res = run_jvm(cp, a.workload, work, fixture, a.seconds, a.trace,
                  T0 + build_s + TIMEOUT_S, lambda: gen.generate(fixture, seed))
    setup_s = res["setup_end_ms"] / 1000.0 - T0 - build_s
    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    t_check = time.time()
    manifest = res["manifest"]
    if a.workload == "queries":
        errors, check_failed = check.check_queries(manifest), 0
    else:
        errors, failed_tables = check.check_migrate(manifest)
        check_failed = sum(map(len, failed_tables))
        print("check: failed operations per pass: " +
              " ".join(",".join(ts) or "-" for ts in failed_tables))
    caught = check.self_test(a.workload, manifest)
    print(f"check_s {time.time() - t_check:.3f}")
    for e in errors:
        print(f"check FAILED: {e}")
    print("check: " + ("passed" if not errors else f"{len(errors)} problem(s)") +
          "; self-test: " + ", ".join(f"{k} {'caught' if v else 'MISSED'}" for k, v in caught.items()))
    correct = not errors and bool(caught) and all(caught.values())
    for d in sorted(os.listdir(work)):
        if d.startswith("pass"):
            shutil.rmtree(os.path.join(work, d))

    if a.trace:
        layers = {name: {"value": median([p["layers"].get(name, 0.0) for p in traced]),
                         "unit": unit} for name, unit in layer_metrics}
        for name, v in res["probes"].items():
            layers[name]["value"] = v
        overhead = median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in plain])
        print(f"trace overhead_s={overhead:.3f} (median traced pass wall minus untraced, "
              f"{len(traced)} vs {len(plain)} passes)")
        with open(os.path.join(work, "layers.json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "overhead_s": overhead,
                       "metrics": layers}, fh, indent=1, sort_keys=True)
        metrics = layers
    else:
        metrics = {
            "wall_s": {"value": median([p["wall_s"] for p in plain]), "unit": "s"},
            "cpu_s": {"value": median([p["cpu_s"] for p in plain]), "unit": "s"},
            "rows_per_s": {"value": median([p["rows"] / p["wall_s"] for p in plain]),
                           "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(json.dumps({"correct": correct,
                      "attempted": sum(p["ops"] for p in passes),
                      "failed": sum(p["failed"] for p in passes) + check_failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
