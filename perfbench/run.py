#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload catchup|queries \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  The script

1. builds the program (``src/main/scala``) and the benchmark's own Scala
   package (``perfbench/scala``) with the Scala compiler shipped among the
   Spark jars (``$SPARK_HOME/jars``, else the directory ``build.sbt``
   compiles against), into ``$CARGO_TARGET_DIR`` (default
   ``.bench_build``); a build whose sources did not change is reused;
2. generates the workload's inputs from the seed with ``perfbench/gen.py``
   (``perfbench/test_gen.py`` checks that one seed gives identical bytes);
3. runs ``graft.perfbench.Main`` in one JVM with an explicit heap
   (``SPARK_DRIVER_MEM``, default 3g) and a ``java.io.tmpdir`` that is
   wiped before every run, so stored-layout caches never carry over;
4. for ``queries``, checks every query's row count against the DuckDB
   oracle of ``SparkEntry.oracleSql`` where one exists.

The last line on stdout is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  It exits 1 when an output check failed
(after printing the line), and another non-zero code, printing no line,
when the benchmark cannot run.  The full result, stamped with the host and
the input fingerprint, goes to ``.bench_results/``; a traced run also
writes its spans to ``.bench_trace/``.  See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# The catch-up backlog; the same numbers are recorded in BENCHMARK.json.
# One tick is one envelope file per source and 2 h of event time.  The
# untimed first segment runs `first_ticks`, the timed restart the
# `backlog_ticks` after them.  Stage 1 takes `cap1` files per trigger
# from each input directory, stage 2 `cap2` from each topic.
CATCHUP = dict(sf=0.01, logs_per_tick=500, orders_per_tick=80,
               first_ticks=1, backlog_ticks=2, cap1=1, cap2=1)
QUERY_SF = 0.01
# A fixed slice of the SparkEntry suite: one query from each
# family of operators, none of which builds a stored layout (the
# warm-up pass would rebuild it for minutes in every run).
QUERIES = [
    "q01_pricing_summary", "q32_order_age", "q39_dau_udaf",
    "q49_media_features", "q21_quality_score", "q27_jaccard_pairs",
    "q26_label_centroids", "q36_sessionize",
]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    return m.group(1) if m else ""


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    return sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                  glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))


def build(out, jars_dir):
    """Compile the program and the benchmark; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(classes, ".stamp")):
        with open(os.path.join(classes, ".stamp")) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = [os.path.join(jars_dir, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
        "scala-reflect-2.13.17.jar")]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars_dir, "*")] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    main = os.path.join(tmp, "graft", "perfbench", "Main.class")
    if p.returncode != 0 or not os.path.exists(main):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def tree_hash(root):
    h = hashlib.sha256()
    for dp, dns, fns in sorted(os.walk(root)):
        dns.sort()
        for fn in sorted(fns):
            p = os.path.join(dp, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(run, workload, seed):
    """Generate the inputs; returns (dir, meta, seconds, fingerprint)."""
    sys.path.insert(0, HERE)
    import gen
    if workload == "queries":
        kw = dict(sf=QUERY_SF, req_pool=2)
    else:
        c = CATCHUP
        kw = dict(sf=c["sf"], logs_per_tick=c["logs_per_tick"],
                  orders_per_tick=c["orders_per_tick"],
                  ticks=c["first_ticks"] + c["backlog_ticks"] - 1)
    d = os.path.join(run, "gen")
    t = time.monotonic()
    meta = gen.generate(d, seed, **kw)
    gen_s = time.monotonic() - t
    return d, meta, gen_s, tree_hash(d)


def host_stamp():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    return {"nproc": os.cpu_count(), "ram_bytes": mem}


def oracle_rows(fixture, names):
    """Row counts of the DuckDB oracles the JVM exported, by query."""
    import duckdb
    with open(os.path.join(fixture, "..", "oracles.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in glob.glob(f"{fixture}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    return {n: con.sql(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0]
            for n in names if n in oracles}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["catchup", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        die("run from the repository root: src/main/scala is missing")
    jars_dir = spark_jars()
    if not os.path.isdir(jars_dir):
        die(f"no Spark jars at '{jars_dir}'")

    classes = build(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), jars_dir)
    run = os.path.abspath(".bench_run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    os.makedirs(os.path.join(run, "work"))
    gdir, meta, gen_s, fp = generate(run, a.workload, a.seed)

    out = os.path.join(run, "result.json")
    trace_dir = os.path.abspath(".bench_trace")
    jcmd = ["java", "-XX:-UsePerfData",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}",
            f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jcmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jcmd += ["-cp", f"{classes}:{jars_dir}/*", "graft.perfbench.Main",
             "--workload", a.workload, "--gen", gdir, "--work", f"{run}/work",
             "--out", out, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--cores", str(a.cores)]
    if a.workload == "queries":
        jcmd += ["--names", ",".join(QUERIES)]
    else:
        jcmd += ["--malformed", str(meta["malformed_log"] + meta["malformed_cdc"]),
                 "--log-envelopes", str(meta["log_envelopes"]),
                 "--cdc-envelopes", str(meta["cdc_envelopes"]),
                 "--backlog-from", str(CATCHUP["first_ticks"]),
                 "--cap1", str(CATCHUP["cap1"]), "--cap2", str(CATCHUP["cap2"])]
    if a.trace:
        os.makedirs(trace_dir, exist_ok=True)
        jcmd += ["--trace-out",
                 f"{trace_dir}/{a.workload}_seed{a.seed}.json"]
    log = os.path.join(run, "jvm.log")
    with open(log, "wb") as lf:
        try:
            p = subprocess.run(jcmd, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=160)
        except subprocess.TimeoutExpired:  # run() has killed and reaped it
            die("benchmark JVM ran past 160 s", 5)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log, "rb") as lf:
            sys.stderr.write(lf.read()[-4000:].decode(errors="replace"))
        die(f"benchmark JVM exited with {p.returncode}", 4)
    with open(out) as f:
        res = json.load(f)

    failures = list(res["failures"])
    failed = res["failed"]
    if a.workload == "queries":
        with open(os.path.join(run, "work", "rows.json")) as f:
            rows = json.load(f)
        for n, want in oracle_rows(os.path.join(gdir, "fixture"), QUERIES).items():
            if rows.get(n) != want:
                failures.append(f"{n}: {rows.get(n)} rows, DuckDB oracle {want}")
                failed += 1
    e2e = res["e2e"]
    if "setup_s" in e2e:  # generation runs outside the JVM
        e2e["setup_s"]["value"] += gen_s
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = (res["layers"] if a.trace else e2e).get(m["name"], {}).get("value")
        if v is None and not a.trace:
            failures.append(f"metric {m['name']} was not measured")
            failed += 1
        # a layer the workload does not exercise reads 0
        metrics[m["name"]] = {"value": v if v is not None else 0.0,
                              "unit": m["unit"]}
    for f_ in failures:
        print(f"[perfbench] FAIL {f_}", file=sys.stderr)
    line = {"correct": not failures, "attempted": max(1, res["attempted"]),
            "failed": failed, "metrics": metrics}
    os.makedirs(".bench_results", exist_ok=True)
    result = {"line": line, "e2e": e2e, "layers": res["layers"],
              "info": res["info"], "failures": failures,
              "host": host_stamp(), "input_fingerprint": fp,
              "workload": a.workload, "seed": a.seed, "trace": a.trace,
              "cores": a.cores, "seconds": a.seconds}
    stem = f".bench_results/{a.workload}_seed{a.seed}"
    cores = "" if a.cores == 4 else f"_cores{a.cores}"
    untraced = f"{stem}_trace0.json"
    if a.cores != 4 and os.path.exists(untraced):
        # the scaling baseline: the same run on fewer cores
        with open(untraced) as f:
            base = json.load(f)["e2e"]["throughput_per_s"]["value"]
        result["parallel_efficiency"] = (
            base / (4 * e2e["throughput_per_s"]["value"]) * a.cores)
        print(f"[perfbench] parallel efficiency, 4 vs {a.cores} cores: "
              f"{result['parallel_efficiency']:.3f}", file=sys.stderr)
    elif a.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["e2e"]
        result["trace_overhead"] = {
            k: e2e[k]["value"] / base[k]["value"] - 1
            for k in e2e if k in base and base[k]["value"]}
        print(f"[perfbench] tracing overhead vs untraced: "
              f"{json.dumps(result['trace_overhead'])}", file=sys.stderr)
    with open(f"{stem}_trace{a.trace}{cores}.json", "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(line))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
