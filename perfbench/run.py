#!/usr/bin/env python3
"""Benchmark of the chess position store and its analytics surface.

    python3 perfbench/run.py --workload import|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/scala) into
.bench_build/<source digest>/ with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME, or the Spark installation whose bin/
is on PATH). Every input is generated from --seed inside .bench_build/.
The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it records
the host regime and workload details. --trace 1 reports the per-layer
metrics instead of the end-to-end ones and writes the spans to
.bench_build/spans/<workload>-<seed>.jsonl. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("import", "analytics")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Spark's jars directory: $SPARK_HOME, else the first PATH entry's parent
    that holds a Spark installation."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark installation found; set SPARK_HOME")


JARS = spark_jars()


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def scalac(out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(JARS, "*"),
                    "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
                    "@" + argfile], check=True, timeout=840)


def build():
    """Compiles the program and the benchmark into a directory named by the
    digest of their sources, unless it is already built; returns it. Each
    source tree compiles once, however runs of different trees interleave."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not program:
        sys.exit("perfbench: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for p in program + bench:
        with open(p, "rb") as f:
            digest.update(os.path.relpath(p, ROOT).encode() + f.read())
    out = os.path.join(BUILD, digest.hexdigest()[:16])
    stamp = os.path.join(out, "complete")
    if os.path.exists(stamp):
        return out
    classes, bench_classes = os.path.join(out, "classes"), os.path.join(out, "bench")
    for d in (classes, bench_classes):
        shutil.rmtree(d, ignore_errors=True)
    scalac(classes, os.path.join(JARS, "*"), program)
    resources = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    scalac(bench_classes, classes + os.pathsep + os.path.join(JARS, "*"), bench)
    # the JVM's class-data-sharing archive only covers classes read from jars
    for d in (classes, bench_classes):
        os.replace(shutil.make_archive(d, "zip", root_dir=d), d + ".jar")
    train(out)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def canary_ms():
    """Fixed single-thread CPU work (SHA-256 over 64 MiB): tracks the host's
    effective per-core speed, so a slow run can be told from a slow program."""
    buf = bytes(1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    h.digest()
    return (time.perf_counter() - t0) * 1000


def oracle_check(tables_dir, out_dir):
    """Compares each saved query output with its DuckDB oracle, canonicalised
    as the program's tools/oracle_check.py does. Returns (attempted, failures)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
            elif "datetime" in str(df[c].dtype):
                df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]").astype(str)
            elif df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
            elif df[c].dtype.kind in "iu":
                df[c] = df[c].astype("int64")
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    failures = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            want = canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want) or not got.equals(want):
                failures.append(f"{name}: output differs from its DuckDB oracle "
                                f"({len(got)} rows vs {len(want)})")
        except Exception as e:  # a crash is a failed check, not a crashed benchmark
            failures.append(f"{name}: oracle comparison failed: {e}")
    return len(oracle), failures


def java(classes, work, *flags):
    """The command line of a benchmark JVM whose temporary files go to `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([os.path.join(classes, "bench.jar"), os.path.join(classes, "classes.jar"),
                          os.path.join(JARS, "*")])
    return (["java", "-Xmx3g", "-Xss8m", *flags]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"])


def train(classes):
    """Records the classes a run loads (Spark, the import path, an explorer
    lookup) in a class-data-sharing archive, so that every run's JVM maps
    them instead of loading and verifying them again. A failed training
    leaves no archive, and runs load every class themselves."""
    work = os.path.join(BUILD, "runs", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java(classes, work, f"-XX:ArchiveClassesAtExit={os.path.join(classes, 'classes.jsa')}")
    try:
        subprocess.run(cmd + ["train", "1", "0", "0", work, work], cwd=work, timeout=JVM_TIMEOUT_S,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(args, classes, work, tables):
    archive = os.path.join(classes, "classes.jsa")
    cmd = (java(classes, work, *([f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []))
           + [args.workload, str(args.seed), str(args.seconds), str(args.trace), work, tables])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: benchmark process failed ({code})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def end_to_end(workload, res):
    ops = res["ops_ms"]
    p50, p75 = metrics.percentile(ops, 50), metrics.percentile(ops, 75)
    per_s = res["units"] / res["units_s"]
    if workload == "analytics":
        # an operation is one pass over the sampled queries, whose times
        # differ by 10x; a window ends after whichever query passes the deadline
        names = res["raw"]["op_queries"]
        p50, p75 = (metrics.pass_percentile(names, ops, q) for q in (50, 75))
        per_s = len(set(names)) / (p50 / 1000)
    return {
        "setup_s": metrics.median(res["setup_s"]),
        "ops_per_s": per_s,
        "op_p50_ms": p50,
        "op_p75_ms": p75,
        "live_mem_mb": res["live_mem_mb"],
    }


def per_layer(workload, res, spans, host):
    raw = res["raw"]
    out = metrics.spark_layers(raw["spark"])
    if workload == "import":
        out.update(metrics.import_layers(spans, res["ops_ms"]))
        out.update(metrics.store_layers(raw))
        out.update(metrics.probe_layers(spans, raw["probe_ms"]))
        out.update(metrics.probe_counts(raw))
    else:
        out.update(metrics.operator_layers(spans, raw["traced_ops"]))
        out.update(metrics.streaming_layers(raw["streaming_batches"], raw["traced_ops"]))
    out["bench.trace_overhead_pct"] = metrics.overhead_pct(res["ops_ms"], res["traced_ops_ms"])
    out.update({f"host.{k}": v for k, v in host.items()})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = spec()
    classes = build()

    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tables = os.path.join(work, "tables")
    if args.workload == "analytics":
        import tablegen
        tablegen.write(args.seed, tables)

    host = {"loadavg_pre": loadavg(), "canary_ms": canary_ms()}
    steal0, total0 = cpu_ticks()
    res = run_jvm(args, classes, work, tables)
    steal1, total1 = cpu_ticks()
    host["loadavg_post"] = loadavg()
    host["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)

    attempted, failures = res["attempted"], list(res["failures"])
    failed = res["failed"]
    if args.workload == "analytics":
        n, bad = oracle_check(tables, os.path.join(work, "analytics", "out"))
        attempted, failed, failures = attempted + n, failed + len(bad), failures + bad

    if args.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(BUILD, "spans", f"{args.workload}-{args.seed}.jsonl"))
        values, wanted = per_layer(args.workload, res, spans, host), bench["per_layer"]
    else:
        values, wanted = end_to_end(args.workload, res), bench["end_to_end"]
    unknown = sorted(set(values) - {m["name"] for m in wanted})
    if unknown:
        sys.exit(f"perfbench: metrics missing from BENCHMARK.json: {unknown}")
    shutil.rmtree(work, ignore_errors=True)

    n = len(res["ops_ms"])
    print(json.dumps({"host": host, "info": res["info"], "ops": n,
                      "p75_samples_beyond": metrics.samples_beyond(n, 75),
                      "failures": failures[:10]}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
