#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload wearable_live --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness JVM, checks
the outputs, prints every metric by name with its unit, and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The full artifact — environment, per-query and per-rung
detail, named failures, spans — is written under ``.bench_build/perfbench``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("wearable_live", "taxi_replay", "catalog_batch")
TAXI_TRIPS = 24_000
TAXI_CHUNKS = 4
TAXI_WARM_TRIPS = 500
WEARABLE_SAMPLES = 100_000
CATALOG_ORDERS = 3000
CATALOG_EVENTS = 3000
CORES = os.cpu_count() or 4
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "jvm", "build.sbt"), os.path.join(HERE, "jvm", "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "jvm", "src")):
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile program + harness with sbt; cache the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=os.path.join(HERE, "jvm"), env=env,
                           stdout=fh, stderr=subprocess.STDOUT, timeout=840)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def make_inputs(workload, seed, base):
    """Generate (or reuse) the seed's input files; returns their directory."""
    gen = hashlib.sha256(repr((TAXI_TRIPS, TAXI_CHUNKS, TAXI_WARM_TRIPS, WEARABLE_SAMPLES,
                               CATALOG_ORDERS, CATALOG_EVENTS)).encode())
    for f in (inputs.__file__, __file__):  # the generators and the file layout
        with open(f, "rb") as fh:
            gen.update(fh.read())
    d = os.path.join(base, f"{workload}-seed{seed}-{gen.hexdigest()[:12]}")
    done = os.path.join(d, ".complete")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "wearable_live":
        with open(os.path.join(d, "wearable.txt"), "wb") as fh:
            fh.write(inputs.wearable_bytes(seed, WEARABLE_SAMPLES))
    elif workload == "taxi_replay":
        chunks = inputs.taxi_chunks(seed, TAXI_TRIPS, TAXI_CHUNKS)
        for i, chunk in enumerate(chunks):
            path = os.path.join(d, f"trips-{i:03d}.csv")
            with open(path, "wb") as fh:
                fh.write(chunk)
            # Spark's file source takes files oldest first, by modification
            # time in milliseconds: chunks written within one millisecond
            # would be read in directory order
            os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
        # the set-up's warm-up drain: the first trips of the replay
        os.makedirs(os.path.join(d, "warm"))
        with open(os.path.join(d, "warm", "trips-warm.csv"), "wb") as fh:
            fh.write(b"".join(chunks[0].splitlines(keepends=True)[:TAXI_WARM_TRIPS]))
    elif workload == "catalog_batch":
        inputs.write_catalog(seed, d, orders=CATALOG_ORDERS, events=CATALOG_EVENTS)
    open(done, "w").close()
    return d


def run_jvm(cp, args, log):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseG1GC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={args['work']}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + args["work"],
            "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, GRAFT_TMP_BASE=args["work"])
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, cwd=args["work"],
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and anything it started (the load generator) end here
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"no program source here ({need} missing): run from the root of a checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(base, exist_ok=True)
    cp = build(root, base)

    t_in = time.time()
    in_dir = make_inputs(a.workload, a.seed, os.path.join(base, "inputs"))
    input_s = time.time() - t_in
    stamp = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(base, "runs", stamp)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "artifact.json")
    rc = run_jvm(cp, {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                      "cores": CORES, "work": work, "inputs": in_dir,
                      "python": sys.executable, "root": root, "out": out},
                 os.path.join(work, "jvm.log"))
    jvm_s = time.time() - t_in - input_s
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-40:]))
        die(f"harness failed (exit {rc}); log kept in {work}")
    with open(out) as fh:
        art = json.load(fh)

    # output checks that need DuckDB
    t_check = time.time()
    if a.workload == "taxi_replay":
        n, bad, fails = checks.taxi(in_dir, art["details"]["taxi_out_dir"], art["details"]["watermark_delay_s"])
        art["attempted"] += n
        art["failed"] += bad
        art["failures"] += fails
    elif a.workload == "catalog_batch":
        _, bad, fails = checks.catalog(in_dir, art["details"]["results_dir"], art["details"]["oracle_sql"],
                                       os.path.join(base, "oracle-cache"))
        art["failed"] += bad
        art["failures"] += fails
    art["env"]["input_gen_s"] = input_s
    art["env"]["harness_jvm_s"] = jvm_s
    art["env"]["duckdb_check_s"] = time.time() - t_check
    art["env"]["source_sha256"] = source_stamp(root)
    try:
        art["env"]["git_sha"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                               text=True).stdout.strip() or None
    except OSError:
        art["env"]["git_sha"] = None
    attempted = max(1, int(art["attempted"]))
    art["failed_frac"] = art["failed"] / attempted

    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    source = art["layer_metrics"] if a.trace else art["metrics"]
    metrics = {n: source[n] for n in names if n in source}
    missing = [n for n in names if n not in source]
    if missing:
        art["failures"].append(f"harness did not report {missing}")
        art["failed"] += 1

    keep = os.path.join(base, "artifacts")
    os.makedirs(keep, exist_ok=True)
    kept = os.path.join(keep, stamp + ".json")
    if a.trace and os.path.exists(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(keep, stamp + ".spans.json"))
        art["spans_file"] = os.path.join(keep, stamp + ".spans.json")
    with open(kept, "w") as fh:
        json.dump(art, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for n in names:
        if n in source:
            print(f"{n:34s} {source[n]['value']:>16.4f} {source[n]['unit']}")
    extra = dict(art["metrics"], **art["layer_metrics"])
    for n, m in extra.items():
        if n not in names:  # measured, not part of this run's JSON line
            print(f"{n:34s} {m['value']:>16.4f} {m['unit']}  (kept in the artifact)")
    correct = art["failed"] == 0
    print(f"{'failed_frac':34s} {art['failed_frac']:>16.4f} ratio "
          f"({art['failed']} of {attempted}{': ' + '; '.join(art['failures'][:5]) if art['failures'] else ''})")
    print(f"correct: {correct}   artifact: {kept}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": art["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
