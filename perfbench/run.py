#!/usr/bin/env python3
"""Benchmark launcher: builds the harness, generates inputs, runs one workload.

    python3 perfbench/run.py --workload logs_raw --seed 1 --seconds 10 --trace 0

Run from the repository root. The harness (perfbench/src, an sbt project
compiled against the repository's own sources) is built on first use into
the build directory (.bench_build, or $CARGO_TARGET_DIR) and rebuilt when a
source file changes. Inputs are generated from the seed once and cached
there. The last line of standard output is the result JSON:
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run's machine context. Every run also leaves a record under <build>/runs/
and, with --trace 1, a span tree under <build>/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORKLOADS = ["logs_raw", "logs_transform", "curation", "stream_ingest"]
# cached input sets kept per workload (each seed is one set)
KEEP_SEEDS = 3
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fail_with_log(msg, log):
    """Fail with the tail of a log that is about to be deleted."""
    with open(log) as f:
        sys.stderr.write("".join(f.readlines()[-40:]))
    fail(msg)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(REPO, d))


def source_stamp():
    """Digest of (path, size, mtime) over every input of the build."""
    h = hashlib.sha1()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, REPO)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_built(out):
    """Compile with sbt when the sources changed; returns the classpath."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
           "compile", "export perfbench/Runtime/fullClasspath"]
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, cwd=BENCH, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as lf:
        lines = lf.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip() + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1].strip()


def java_cmd(cp, out, extra):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx4g",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Harness"] + extra)


def prune_cache(data, workload, keep):
    """Drop all but the KEEP_SEEDS most recently used input sets."""
    if os.path.isdir(keep):
        os.utime(keep)
    sets = [os.path.join(data, d) for d in os.listdir(data)
            if d.startswith(workload + "-") and os.path.join(data, d) != keep]
    sets.sort(key=os.path.getmtime, reverse=True)
    for d in sets[KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def expected_sql(data_dir):
    """logs_transform: the DuckDB restatement of the chain, once per seed."""
    target = os.path.join(data_dir, "expected.txt")
    if os.path.isfile(target):
        return
    import duckdb
    with open(os.path.join(BENCH, "sql", "logs_transform.sql")) as f:
        sql = f.read()
    tmp = target + ".tmp"
    sql = sql.replace("{input}", os.path.join(data_dir, "in")).replace("{output}", tmp)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(sql)
    con.close()
    os.replace(tmp, target)


def run_java(cmd, cwd, log, timeout):
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--gen-only", action="store_true",
                    help="generate (or find cached) inputs and print their sha256")
    ap.add_argument("--selftest", action="store_true",
                    help="run once, corrupt one output record, require the check to fail")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "build.sbt")) or \
            not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail(f"no graft sources next to {BENCH}: run from a full checkout")
    out = build_dir()
    cp = ensure_built(out)
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    data_dir = os.path.join(data, f"{a.workload}-{a.seed}")
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--data", data]
    try:
        # the harness generates (or validates the cached) inputs itself;
        # logs_transform needs them first, for the SQL expectation
        if a.gen_only or a.workload == "logs_transform":
            log = os.path.join(work, "gen.log")
            rc = run_java(java_cmd(cp, out, common + ["--gen-only"]), work, log, 170)
            if rc != 0:
                fail_with_log(f"input generation failed (exit {rc})", log)
            if a.gen_only:
                with open(log) as f:
                    print([l for l in f.read().splitlines() if l.startswith("generated")][-1])
                return 0
            expected_sql(data_dir)
        prune_cache(data, a.workload, data_dir)
        result = os.path.join(work, "result.json")
        log = os.path.join(work, "harness.log")
        mode = ["--selftest"] if a.selftest else [
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--result", result]
        rc = run_java(java_cmd(cp, out, common + ["--work", work] + mode), work, log, 170)
        if a.selftest:
            with open(log) as f:
                lines = [l for l in f.read().splitlines() if l.startswith("{")]
            print(lines[-1] if lines else "{}")
            return 0 if rc == 0 else 1
        if rc is None or not os.path.isfile(result):
            fail_with_log(f"harness failed (exit {rc})", log)
        with open(result) as f:
            record = json.load(f)
        stamp = f"{a.workload}-{a.seed}-t{a.trace}-{int(time.time())}"
        os.makedirs(os.path.join(out, "runs"), exist_ok=True)
        with open(os.path.join(out, "runs", stamp + ".json"), "w") as f:
            json.dump(record, f)
        trace = os.path.join(work, f"trace-{a.workload}-{a.seed}.json")
        if os.path.isfile(trace):
            os.makedirs(os.path.join(out, "traces"), exist_ok=True)
            shutil.move(trace, os.path.join(out, "traces", stamp + ".json"))
        print(json.dumps({"context": record["context"], "detail": record.get("detail")}))
        print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
