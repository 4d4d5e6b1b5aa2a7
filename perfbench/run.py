#!/usr/bin/env python3
"""Benchmark harness for the graft engine (see perfbench/README.md).

One run:
    python3 perfbench/run.py --workload <hourly_cycle|query_mix|index_maint>
        --seed <n> --seconds <s> --trace <0|1>

Every workload, untraced then traced, with every metric printed by name
and unit, outputs checked, and the tracing overhead:
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Run it from the repository root. The first run builds the engine and
the harness with sbt; later runs reuse the build while no source file
changed. Everything a run writes stays under `.bench_build/` in the
repository root, and each run's scratch directory is deleted when it
ends. The last line of standard output is the run's result as JSON.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["hourly_cycle", "query_mix", "index_maint"]
# A run must end within 180 s once the build is in place; the JVM gets
# this much of it.
JVM_LIMIT_S = 160
# The generated query_mix / index_maint tables: sf 0.01 keeps one pass
# of the query mix inside a run's time budget.
SCALE = 0.01
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _terminated(signum, _frame):
    raise SystemExit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; the whole
    group is killed on timeout or when this process is interrupted, so
    no child outlives the harness. Returns the exit code, or None on
    timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_stamp():
    """Hash of every input of the build, so a changed file rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources here: run from the repository root")
    stamp = source_stamp()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(cmd, 840, cwd=HERE, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    with open(log_path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (log: {log_path})")
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found: run from the repository root")
    with open(path) as f:
        return json.load(f)


def norm_frame(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True).astype(str)


def oracle_failures(tables_dir, checks):
    """Result-hash comparison of each checked query against its DuckDB
    oracle SQL over the same tables; returns the names that differ."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    bad = []
    for c in checks:
        try:
            files = sorted(glob.glob(os.path.join(c["dir"], "*.parquet")))
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
            want = con.execute(c["sql"]).df()
            a, b = norm_frame(got), norm_frame(want)
            digest = lambda d: hashlib.sha256(
                (",".join(d.columns) + "\n" + d.to_csv(index=False)).encode()
            ).hexdigest()
            if digest(a) != digest(b):
                bad.append(c["name"])
        except Exception as e:  # a failed oracle read counts as a mismatch
            print(f"perfbench: oracle check {c['name']}: {e}", file=sys.stderr)
            bad.append(c["name"])
    return bad


def run_jvm(cp, workload, seed, seconds, trace, work, out, spans, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", out,
            "--spans", spans]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside `work`
    log_path = os.path.join(BUILD, f"last-{workload}.log")
    with open(log_path, "w") as log:
        rc = run_group(cmd, deadline - time.time(), cwd=ROOT, env=env,
                       stdout=log, stderr=subprocess.STDOUT)
    if rc is None:
        die(f"{workload} did not finish in time (log: {log_path})")
    if rc != 0:
        die(f"{workload} failed with exit code {rc} (log: {log_path})")


def run_once(workload, seed, seconds, trace):
    bench = spec()
    cp = classpath()
    deadline = time.time() + JVM_LIMIT_S
    work = os.path.join(BUILD, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = os.path.join(work, "data")
        if workload in ("query_mix", "index_maint"):
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True  # leave no __pycache__ behind
            import gen
            gen.write(seed, SCALE, tables)
        out = os.path.join(work, "result.json")
        spans = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")
        run_jvm(cp, workload, seed, seconds, trace, work, out, spans, deadline)
        with open(out) as f:
            res = json.load(f)
        bad = oracle_failures(tables, res["oracle_checks"]) \
            if res["oracle_checks"] else []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["failed"] += len(bad)
    res["oracle_mismatches"] = bad
    e2e = {k: v["value"] for k, v in res["end_to_end"].items()}
    last = os.path.join(BUILD, "last", f"{workload}-seed{seed}.json")
    if trace == 0:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(e2e, f)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in bench["per_layer"]}
        if os.path.isfile(last):
            with open(last) as f:
                base = json.load(f)
            res["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e
                                       if k in base}
    info = {k: res[k] for k in ("workload", "seed", "nproc", "load_avg",
                                "diagnostics", "oracle_mismatches")}
    info["end_to_end"] = res["end_to_end"]
    info["error_rate"] = res["failed"] / max(1, res["attempted"])
    if "tracing_overhead" in res:
        info["tracing_overhead"] = res["tracing_overhead"]
    print(json.dumps(info))
    return {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}, info


def run_all(seed, seconds):
    """Every workload untraced then traced; one table of every metric."""
    bench = spec()
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            result, info = run_once(w, seed, seconds, trace)
            ok &= result["correct"]
            print(f"== {w} trace={trace} seed={seed} nproc={info['nproc']} "
                  f"load_avg={info['load_avg']:.2f} attempted={result['attempted']} "
                  f"failed={result['failed']} error_rate={info['error_rate']:.4f} ratio")
            for name, m in result["metrics"].items():
                print(f"{w:13s} {name:36s} {m['value']:>16.6g} {m['unit']}")
            for name, v in info["diagnostics"].items():
                print(f"{w:13s} diag.{name:31s} {v:>16.6g}")
            for name, v in info.get("tracing_overhead", {}).items():
                print(f"{w:13s} overhead.{name:27s} {v:>16.6g} {units.get(name, '')}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminated)
    signal.signal(signal.SIGINT, _terminated)
    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    if a.all:
        sys.exit(0 if run_all(a.seed, seconds) else 1)
    if not a.workload:
        die("--workload or --all is required")
    result, _ = run_once(a.workload, a.seed, seconds, a.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
