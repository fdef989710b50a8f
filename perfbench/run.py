#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/ with the Scala compiler that ships in Spark's jars; later runs
reuse the classes while the sources are unchanged. Each run makes its inputs
from the seed, times whole passes of the workload's requests for about
--seconds seconds, checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones.

Two more modes:
    --steady N   run the workload N times (seeds seed..seed+N-1) and print each
                 end-to-end metric's median, quartiles and spread
    --record     run every workload untraced and traced with one seed and write
                 perfbench/records/traced.json (layer metrics, call-site table,
                 tracing overhead)
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
SHARE_FLAGS = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on"]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation
    whose bin/spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        jars = os.path.join(os.path.dirname(home), "jars")
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(jars):
            return jars
    return "jars"


SPARK_JARS = spark_jars()
RUN_LIMIT_S = 170
WORKLOADS = ("fit", "query_mix")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + own


def build():
    """Compiles engine + benchmark into .bench_build/perfbench.jar unless
    the sources are unchanged since the last build. Returns the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    if all(os.path.exists(f) for f in (jar, ARCHIVE, stamp_file)) and \
            open(stamp_file).read() == stamp:
        return jar
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "classes.new")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    # a jar, not a class directory: the JVM's class-data-sharing archive
    # accepts only jars on the class path
    with zipfile.ZipFile(jar + ".new", "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        for d, _, files in os.walk(tmp):
            for n in sorted(files):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.replace(jar + ".new", jar)
    # class-data-sharing archive of the classes one short query_mix run
    # loads: later JVMs map them instead of loading and verifying them
    # again. On 4 cores this took query_mix's setup_s from 29-31 s to 23-25 s
    # and a whole run from 44 s to 36-41 s. Every run requires it (-Xshare:on):
    # a JVM that cannot map it exits instead of running slower unnoticed.
    launch("query_mix", 0, 1, False, jar, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if not os.path.exists(ARCHIVE):
        fail("class-data-sharing archive was not written")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar


def oracle_check(tables, verify_dir, oracle_sql):
    """Compares each query's setup result (parquet) with its DuckDB oracle.
    Returns the list of failures."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
            elif np.issubdtype(df[c].dtype, np.integer):
                df[c] = df[c].astype("int64")
            elif np.issubdtype(df[c].dtype, np.floating):
                df[c] = df[c].round(9)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    failures = []
    for name, sql in sorted(oracle_sql.items()):
        try:
            files = glob.glob(os.path.join(verify_dir, name, "*.parquet"))
            spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            odf = con.execute(sql).df()
            if spark_df is None:
                spark_df = odf.iloc[0:0]
            a, b = norm(spark_df), norm(odf)
            if list(a.columns) != list(b.columns):
                failures.append(f"{name}: oracle schema {list(a.columns)} vs {list(b.columns)}")
            elif len(a) != len(b):
                failures.append(f"{name}: oracle rows {len(a)} vs {len(b)}")
            elif not a.equals(b):
                failures.append(f"{name}: values differ from the oracle")
        except Exception as e:  # a failed check is a failed operation
            failures.append(f"{name}: oracle check {type(e).__name__}: {e}")
    return failures


def launch(workload, seed, seconds, trace, jar, jvm_flags, keep=False, deadline=None):
    """Makes the run's inputs, runs the JVM side and returns its record."""
    work = os.path.join(BUILD, "run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        py_setup = 0.0
        extra = []
        tables = os.path.join(work, "tables")
        if workload == "query_mix":
            sys.path.insert(0, HERE)
            import gen_tables
            t0 = time.time()
            gen_tables.generate(tables, seed)
            py_setup = time.time() - t0
            extra = ["--tables", tables]
        out = os.path.join(work, "record.json")
        launched_ms = int(time.time() * 1000)
        cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
                "-Xss16m", "-XX:ReservedCodeCacheSize=512m"] + jvm_flags +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dperfbench.home={HERE}", "-Dspark.ui.enabled=false",
                "-cp", jar + os.pathsep + os.path.join(SPARK_JARS, "*"),
                "perfbench.Main", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "1" if trace else "0",
                "--work", work, "--out", out, "--launched-ms", str(launched_ms)] + extra)
        log = os.path.join(work, "jvm.log")
        budget = max(30.0, (deadline or time.time() + RUN_LIMIT_S) - time.time())
        with open(log, "w") as lf:
            try:
                code = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                      timeout=budget, cwd=work).returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0 or not os.path.exists(out):
            shutil.copy(log, os.path.join(BUILD, "failed-run.log"))
            with open(log, errors="replace") as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail(f"{workload} run failed ({code}); JVM log kept in .bench_build/failed-run.log")
        with open(out) as f:
            rec = json.load(f)
        rec["failures"] = list(rec["failures"])
        if workload == "query_mix":
            t0 = time.time()
            of = oracle_check(tables, rec["verify_dir"], rec["oracle_sql"])
            rec["oracle_check_s"] = time.time() - t0
            rec["attempted"] += len(rec["oracle_sql"])
            rec["failed"] += len(of)
            rec["failures"] += of
        rec["end_to_end"] = dict(rec["end_to_end"])
        rec["end_to_end"]["setup_s"] += py_setup
        rec["setup"] = dict(rec["setup"], tables_s=py_setup)
        return rec
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def run_once(workload, seed, seconds, trace, keep=False):
    """One run. Returns (result line dict, full record dict)."""
    t_start = time.time()
    jar = build()
    build_s = time.time() - t_start
    rec = launch(workload, seed, seconds, trace, jar, SHARE_FLAGS, keep,
                 deadline=time.time() + RUN_LIMIT_S - (time.time() - t_start - build_s))
    rec["build_s"] = build_s
    units = metric_units()
    if trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in rec["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in rec["end_to_end"].items()
                   if k in units}
    line = {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}
    return line, rec


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_units():
    s = spec()
    return {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}


def steady(args):
    """Runs one workload N times with consecutive seeds; prints each
    end-to-end metric's median, quartiles and spread (IQR / median)."""
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    values = {}
    for i in range(args.steady):
        line, rec = run_once(args.workload, args.seed + i, args.seconds, False)
        for f in rec["failures"][:5]:
            print(f"FAIL seed {args.seed + i}: {f}", file=sys.stderr)
        print(json.dumps({"seed": args.seed + i, "correct": line["correct"],
                          **{k: v["value"] for k, v in line["metrics"].items()}}), flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread < bounds[k] / 3 else "  above bound/3"
        print(f"{k:<22}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{bounds[k]:>8.2f}{flag}")


def record(args):
    """Untraced and traced run of every workload with one seed; writes the
    traced record with the tracing overhead."""
    out = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for w in [x["name"] for x in spec()["workloads"]]:
        plain, prec = run_once(w, args.seed, args.seconds, False)
        traced, rec = run_once(w, args.seed, args.seconds, True)
        p50 = prec["end_to_end"]["request_p50_s"]
        tp50 = traced["metrics"]["trace.request_p50_s"]["value"]
        out["workloads"][w] = {
            "correct": plain["correct"] and traced["correct"],
            "end_to_end": prec["end_to_end"],
            "tracing_overhead": tp50 / p50 - 1.0,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            **{k: rec[k] for k in ("per_request", "call_sites", "leaks", "kernels", "setup")
               if k in rec}}
        print(f"{w}: overhead {tp50 / p50 - 1.0:+.3f}", file=sys.stderr)
    path = os.path.join(HERE, "records", "traced.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()
    if args.record:
        return record(args)
    if not args.workload:
        ap.error("--workload is required")
    if args.steady:
        return steady(args)
    line, rec = run_once(args.workload, args.seed, args.seconds, bool(args.trace), args.keep)
    for f in rec["failures"]:
        print(f"FAIL {f}", file=sys.stderr)
    print(json.dumps({k: rec[k] for k in rec if k not in ("failures", "oracle_sql")}),
          file=sys.stderr)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
