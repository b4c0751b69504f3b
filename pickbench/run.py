#!/usr/bin/env python3
"""Pickaxe benchmark: one command per workload run.

    python3 pickbench/run.py --workload expand_query --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. The first run builds the program from
src/main/scala and the benchmark from pickbench/scala with the Scala
compiler shipped in the Spark distribution ($SPARK_HOME/jars, default
/opt/spark/jars) into pickbench/.build; later runs reuse the build while
the sources are unchanged. Inputs come from pickbench/gen.py and the seed.

The JVM side (scala/Main.scala) sets the workload up seven times, runs two
untimed warm-up passes, then timed passes until --seconds have passed and
at least three are done, and checks every pass. This script runs the DuckDB oracle compare of
operator_mix, turns the raw record into metrics (stats.py), and prints a
summary line (host, phases, request latency, fail_frac, peak RSS), then the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 traces every other
pass and reports the per-layer metrics. The raw record of each run, spans
included, is kept in pickbench/.work/raw-<workload>-<seed>-<trace>.json.
Results taken at different core counts (host.cores) are not comparable.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["expand_query", "operator_mix"]
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"pickbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler*.jar")):
        fail(f"no Spark distribution with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def scalac(out, classpath, sources, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"compile failed ({log})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile the program and the benchmark when their sources changed;
    return the JVM class path."""
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala",
                                            "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not program:
        fail(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    prog_cls = os.path.join(BUILD, "program")
    bench_cls = os.path.join(BUILD, "bench")
    for out, sources, cp in ((prog_cls, program, jars),
                             (bench_cls, bench, prog_cls + os.pathsep + jars)):
        h = hashlib.sha256()
        for p in sources + ([prog_cls + ".stamp"] if out == bench_cls else []):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
        stamp = out + ".stamp"
        if os.path.isdir(out) and os.path.exists(stamp) and \
                open(stamp).read() == h.hexdigest():
            continue
        scalac(out, cp, sources, out + ".log")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return os.pathsep.join([bench_cls, prog_cls, jars])


def inputs(workload, seed):
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_inputs(workload, seed, d)
        open(os.path.join(d, ".done"), "w").close()
    return d


def run_jvm(classpath, workload, inputs_dir, seconds, trace, cores, raw):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", classpath, "pickbench.Main", workload, inputs_dir, run_dir,
            str(seconds), str(trace), str(cores), raw])
    log = os.path.join(WORK, f"jvm-{workload}.log")
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=run_dir)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{workload} exceeded {JVM_TIMEOUT_S}s ({log})")
        if rc != 0 or not os.path.exists(raw):
            with open(log) as lf:
                tail = lf.read()[-4000:]
            sys.stderr.write(tail)
            fail(f"{workload} JVM exited with {rc} ({log})")
    finally:
        results = os.path.join(run_dir, "results")
        keep = os.path.join(WORK, f"results-{workload}")
        if os.path.isdir(results):
            shutil.rmtree(keep, ignore_errors=True)
            shutil.move(results, keep)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(raw) as f:
        return json.load(f)


def oracle_check(raw, tables_dir):
    """operator_mix: every timed result's row count, and the warm-up
    pass's rows, against the registry's DuckDB oracle, compared the way
    scripts/check.py compares them (the rows travel as JSON lines, so the
    result columns are JSON-typed). Returns (attempted, failed, notes)."""
    import duckdb
    import numpy as np
    import pandas as pd
    extra = raw["extra"]
    results = os.path.join(WORK, "results-operator_mix")
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    attempted = failed = 0
    notes = []
    for q, sql in sorted(extra["oracle_sql"].items()):
        exp = con.sql(sql).df()
        got = pd.read_json(os.path.join(results, f"{q}.jsonl"), lines=True,
                           dtype=False, convert_dates=False)
        attempted += 1
        problem = compare(got, exp, np, pd)
        if problem:
            failed += 1
            notes.append(f"{q}: {problem}")
        for r in extra["query_runs"]:
            if r["query"] == q:
                attempted += 1
                if r["rows"] != len(exp):
                    failed += 1
                    notes.append(f"{q} pass {r['i']}: {r['rows']} rows, "
                                 f"oracle {len(exp)}")
    return attempted, failed, notes


def compare(got, exp, np, pd):
    """None when equal: same columns, rows equal after sorting, floats
    within 1e-9 relative."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                af, bf = a.astype(float).to_numpy(), b.astype(float).to_numpy()
                ok = np.isclose(af, bf, rtol=1e-9, atol=1e-12) | \
                    (pd.isnull(af) & pd.isnull(bf))
            else:
                ok = (a.astype(object).where(pd.notnull(a), None) ==
                      b.astype(object).where(pd.notnull(b), None)).to_numpy()
        except Exception as e:  # incomparable column types
            return f"col {c}: {e}"
        if not ok.all():
            i = int((~ok).nonzero()[0][0])
            return f"col {c} row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    in_dir = inputs(args.workload, args.seed)
    raw_path = os.path.join(
        WORK, f"raw-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    raw = run_jvm(classpath, args.workload, in_dir, args.seconds, args.trace,
                  cores, raw_path)

    attempted, failed = raw["attempted"], raw["failed"]
    notes = list(raw["failures"])
    if args.workload == "operator_mix":
        a, f, n = oracle_check(raw, os.path.join(in_dir, "tables"))
        attempted, failed, notes = attempted + a, failed + f, notes + n
        raw["attempted"], raw["failed"] = attempted, failed
    for n in notes:
        print(f"pickbench: check failed: {n}", file=sys.stderr)

    e2e = stats.end_to_end(raw)
    lat = stats.latency_summary(raw)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"cores": raw["cores"], "loadavg": raw["loadavg"],
                 "steal_share": raw["steal_share"],
                 "spark": raw["spark_version"], "java": raw["java_version"]},
        "passes": len(raw["passes"]),
        "phases_s": {k: raw[k] for k in ("jvm_s", "warmup_s", "timed_s")},
        "fail_frac": failed / attempted if attempted else 1.0,
        "requests": lat,
        "peak_rss_mb": raw["peak_rss_mb"],
        **{k: v for k, (v, _) in e2e.items()},
    }
    print(json.dumps({"summary": summary}))
    if args.trace:
        metrics = {k: {"value": v, "unit": UNITS.get(k, unit_of(k))}
                   for k, v in stats.per_layer(raw).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


UNITS = {"host.cores": "count", "host.loadavg_start": "load",
         "host.steal_share": "ratio", "driver.peak_rss_mb": "MB",
         "host.loadavg_end": "load", "fail_frac": "ratio",
         "kernel.us_per_cpd": "us", "chem.standardize_us": "us",
         "query.tail_pct": "pct", "mass.adduct_ms": "ms",
         "mass.ms2_ms": "ms", "query.p50_ms": "ms", "query.p90_ms": "ms",
         "sink.bytes": "bytes", "sink.bytes_per_cpd": "bytes",
         "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes",
         "spark.core_util": "ratio", "kernel.yield": "ratio",
         "kernel.task_ratio": "ratio", "engine.dedup_ratio": "ratio",
         "mass.rows_per_hit": "ratio"}


def unit_of(name):
    return "s" if name.endswith("_s") else "count"


if __name__ == "__main__":
    main()
