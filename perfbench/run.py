#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed (gen.py);
the JVM (perfbench.Main) sets up, measures and checks; for `curate` this
script then replays the batch queries' oracle SQL in DuckDB. The last line
of standard output is one JSON object: correct, attempted, failed, metrics.
A traced run also writes its spans to .bench_build/spans/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of every file the build compiles."""
    h = hashlib.sha256()
    files = (glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
             glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True) +
             [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                         cwd=HERE, env=sbt_env(), stdout=out, timeout=840)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group. Always
    waits for the process to end. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def oracle_check(work, inputs):
    """Compare each query's output on the timed tables with its DuckDB
    replay: columns sorted by name, rows sorted, values compared as
    strings. Returns [(name, ok, detail)]."""
    import duckdb
    import pandas as pd
    out = os.path.join(work, "oracle")
    con = duckdb.connect()
    for t in glob.glob(os.path.join(inputs, "sf", "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    with open(os.path.join(inputs, "queries.json")) as f:
        names = json.load(f)
    sql = {}
    for name in names:
        if os.path.exists(os.path.join(out, f"{name}.sql")):
            with open(os.path.join(out, f"{name}.sql")) as f:
                sql[name] = f.read()

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))

    results = []
    for name in names:
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        if name not in sql:
            results.append((name, False, "no oracle SQL"))
            continue
        if not files:
            results.append((name, False, "no output"))
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            want = canon(con.sql(sql[name]).df())
        except Exception as e:  # noqa: BLE001 - any replay error fails the check
            results.append((name, False, f"replay error: {e}"))
            continue
        if list(got.columns) != list(want.columns):
            results.append((name, False, f"columns {list(got.columns)} vs {list(want.columns)}"))
        elif len(got) != len(want):
            results.append((name, False, f"rows {len(got)} vs {len(want)}"))
        elif not got.astype(str).equals(want.astype(str)):
            results.append((name, False, "values differ"))
        else:
            results.append((name, True, f"{len(got)} rows"))
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources under src/main/scala/graft: run from the repository root")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        die("BENCHMARK.json not found: run from the repository root")
    emit = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    classpath = build()
    t_start = time.time()  # the deadline excludes the build

    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        digests = gen.generate(a.workload, a.seed, inputs)
        print(f"[perfbench] inputs {len(digests)} files digest="
              f"{hashlib.sha256(json.dumps(digests, sort_keys=True).encode()).hexdigest()[:16]}")
        spans = os.path.join(STATE, "spans", f"{a.workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--inputs", inputs, "--work", work,
                "--emit", ",".join(emit), "--spans", spans])
        stdout_path = os.path.join(work, "jvm.out")
        stderr_path = os.path.join(work, "jvm.err")
        with open(stdout_path, "w") as so, open(stderr_path, "w") as se:
            rc = run_bounded(cmd, DEADLINE_S - (time.time() - t_start), stdout=so, stderr=se)
        # the JVM's own diagnostics (failed operations) go to stderr
        for ln in open(stderr_path):
            if ln.startswith("[perfbench]"):
                sys.stderr.write(ln)
        lines = open(stdout_path).read().splitlines()
        result = None
        for ln in lines:
            if ln.startswith("{"):
                result = json.loads(ln)
            else:
                print(ln)
        if rc != 0 or result is None:
            sys.stderr.write("".join(open(stderr_path).readlines()[-60:]))
            die(f"benchmark JVM failed (exit {rc})", 4)

        if a.workload == "curate":
            for name, ok, detail in oracle_check(work, inputs):
                print(f"[perfbench] check curate.oracle.{name} {'PASS' if ok else 'FAIL'} {detail}")
                result["attempted"] += 1
                if not ok:
                    result["failed"] += 1
            result["correct"] = result["failed"] == 0

        last = os.path.join(STATE, "last", f"{a.workload}-{a.seed}-trace{a.trace}.json")
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(result, f)
        if a.trace:
            report_overhead(a, result)
            print(f"[perfbench] spans written to {os.path.relpath(spans, ROOT)}")
        print(f"[perfbench] failed_ratio {result['failed'] / result['attempted']:.6f} "
              f"({result['failed']}/{result['attempted']})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def report_overhead(a, traced):
    """Tracing overhead: this traced run's end-to-end figures against the
    last untraced run of the same workload and seed, when there is one."""
    path = os.path.join(STATE, "last", f"{a.workload}-{a.seed}-trace0.json")
    if not os.path.exists(path):
        print("[perfbench] tracing overhead: no untraced run of this workload and seed yet")
        return
    with open(path) as f:
        untraced = json.load(f)["metrics"]
    for m in ("op_p50_ms", "ops_per_s"):
        t, u = traced["metrics"][f"traced.{m}"]["value"], untraced[m]["value"]
        print(f"[perfbench] tracing overhead {m}: traced {t:.4f} untraced {u:.4f} "
              f"({(t - u) / u * 100:+.1f} %)")


if __name__ == "__main__":
    main()
