#!/usr/bin/env python3
"""graft benchmark: runs one workload for a time budget and prints one
JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: trip_json_batch, trip_stream_upsert, query_mix (see
perfbench/README.md). The first run builds graft and the harness with
sbt; later runs reuse the build while the sources are unchanged. With
--trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer metrics. Work files go to perfbench/work/<workload>/.
"""
import argparse
import ast
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("trip_json_batch", "trip_stream_upsert", "query_mix")
JVM_TIMEOUT_S = 160
TABLES_SEED = 1
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compiles graft and the harness once; returns the JVM classpath."""
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(HERE, "work", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def gen_tables(out_dir, repeats=3):
    """Writes the query tables `repeats` times; returns the median seconds.
    The tables are the same for every run, like a fixed test scale: the
    workload's seed sets only the query order."""
    import gen_tables as gt
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        gt.write(out_dir, TABLES_SEED)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_jvm(cp, args, work):
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
    opts.append("--add-opens=java.management/sun.management=ALL-UNNAMED")
    # Fixed heap and young generation: G1's adaptive young sizing made
    # the GC work per pass differ from run to run.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=50",
            f"-Djava.io.tmpdir={work}"] + opts + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             cwd=work, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload timed out after {JVM_TIMEOUT_S} s; see {work}/jvm.log")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        fail(f"workload failed (exit {p.returncode}); see {work}/jvm.log")
    return json.loads(lines[-1][len("PERFBENCH "):])


def oracle_failures(tables, out_dir):
    """Runs the repository's DuckDB oracle compare (tools/compare.py) on
    the query_mix outputs; returns the names of the queries that differ."""
    # Unbuffered, so the summary line is out before the interpreter
    # exits: DuckDB's threads now and then abort the process at exit,
    # after the compare is done. The summary line, not the exit code,
    # is the verdict.
    p = subprocess.run([sys.executable, "-u", os.path.join(ROOT, "tools", "compare.py"), tables, out_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
    with open(os.path.join(out_dir, "compare.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if "oracle queries match; fails: " not in last:
        fail(f"oracle compare failed (exit {p.returncode}); see {out_dir}/compare.log")
    return ast.literal_eval(last.split("fails: ", 1)[1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.exists(os.path.join(ROOT, "tools", "compare.py")):
        fail(f"graft sources not found under {ROOT}; run from a full checkout")
    cp = build()

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
    gen_s = 0.0
    if a.workload == "query_mix":
        tables = os.path.join(work, "tables")
        gen_s = gen_tables(tables)
        jvm_args += ["--tables", tables]
    res = run_jvm(cp, jvm_args, work)
    v = res["values"]
    v["setup_s"] += gen_s

    attempted, failed = int(v["attempted"]), int(v["failed"])
    if a.workload == "query_mix":
        bad = set(res["query_failures"]) | set(oracle_failures(os.path.join(work, "tables"),
                                                               os.path.join(work, "query_out")))
        # every timed run of a query whose output is wrong counts as failed
        failed = min(attempted, failed + len(bad) * int(v["passes"]))
    v["failed_share"] = failed / attempted

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if a.trace:
        # a layer the workload does not run did no work
        v = {**{m["name"]: 0.0 for m in spec}, **v}
    missing = [m["name"] for m in spec if m["name"] not in v]
    if missing:
        fail(f"workload reported no value for {missing}")
    metrics = {m["name"]: {"value": v[m["name"]], "unit": m["unit"]} for m in spec}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(work, f"result-trace{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, **result}, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
