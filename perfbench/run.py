#!/usr/bin/env python3
"""Benchmark of the streaming spine and the query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (and with it the program) from source on first use,
generates the inputs from the seed, runs one JVM that drives the program
through its public entry points, checks every output against values the
benchmark computes itself, and prints one JSON result line last. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CDS = os.path.join(TARGET, "cds")
CLASSPATH = os.path.join(CDS, "run-classpath.txt")
ARCHIVE = os.path.join(CDS, "classes.jsa")
WORKLOADS = ("ingest_backlog", "live_dashboard", "registry_slice")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# Per-layer metrics of the layers a workload does not run, by name prefix.
# A traced run reports them as 0: nothing of that layer ran.
IDLE = {
    "ingest_backlog": ("sources.generator_late_ms", "streaming.processed_frac", "queries.", "registry."),
    "live_dashboard": ("ingest.transform_s", "ingest.sink_s", "ingest.rows_per_s",
                       "ingest_rows_per_s_1core", "registry."),
    "registry_slice": ("sources.", "ingest", "streaming.", "queries."),
}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Newest modification time of any source or build file the build reads."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += [os.path.join(d, f) for d, _, names in os.walk(top) for f in names]
    return max(os.path.getmtime(f) for f in files)


def java_cmd(classpath, work, *args, archive_at_exit=False):
    opts = ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
    if archive_at_exit:
        opts.append(f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    elif os.path.isfile(ARCHIVE):
        opts.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    return (["java"] + opts + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"] + list(args))


def build():
    """Compile the benchmark and the program with sbt once per checkout and
    record the run classpath; later runs start the JVM directly.

    The class directories are packed into jars so that a short training
    run can dump a class-data-sharing archive of every class a run loads.
    Later JVMs map it instead of loading those classes one by one, which
    takes several seconds off each run's set-up."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise RuntimeError("the program's build.sbt is missing beside the benchmark directory")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_stamp():
        return open(CLASSPATH).read().strip()
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, timeout=480)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        raise RuntimeError(f"sbt build failed with code {out.returncode}")
    shutil.rmtree(CDS, ignore_errors=True)
    os.makedirs(CDS)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = shutil.make_archive(os.path.join(CDS, f"classes{i}"), "zip", entry)
            os.rename(jar, jar[:-4] + ".jar")
            entry = jar[:-4] + ".jar"
        entries.append(entry)
    cp = os.pathsep.join(entries)
    work = os.path.join(HERE, "work", "cds-training")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trained = subprocess.run(
        java_cmd(cp, work, "--workload", "live_dashboard", "--seed", "0", "--seconds", "2",
                 "--trace", "0", "--work", work, "--corpus", work, "--pre-setup-s", "0",
                 "--artifact", os.path.join(work, "artifact.json"), archive_at_exit=True),
        cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=180)
    shutil.rmtree(work, ignore_errors=True)
    if trained.returncode != 0 and os.path.isfile(ARCHIVE):
        os.remove(ARCHIVE)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def cell(v):
    """Comparable form of one result cell: type class plus exact text, as
    the registry's own oracle gate compares them."""
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if hasattr(v, "tolist"):
        v = v.tolist()
    return ("v", str(v))


def check_registry(results_dir, corpus_dir, oracles):
    """Each slice query's result must equal its DuckDB oracle over the
    same corpus, row for row."""
    if not oracles:
        return []
    import duckdb  # only the registry workload needs it; it is slow to import
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    problems = []
    for name, sql in oracles.items():
        got = con.execute(f"SELECT * FROM '{results_dir}/{name}/*.parquet'").df()
        got_rows = got[sorted(got.columns)].values.tolist()
        if sql is None:
            problems.append(f"{name}: no oracle")
            continue
        want = con.execute(sql).df()
        if sorted(want.columns) != sorted(got.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
            continue
        want_rows = want[sorted(want.columns)].values.tolist()
        if len(want_rows) != len(got_rows):
            problems.append(f"{name}: {len(got_rows)} rows != oracle {len(want_rows)}")
        elif any(cell(a) != cell(b) for g, w in zip(got_rows, want_rows) for a, b in zip(g, w)):
            problems.append(f"{name}: rows differ from the oracle")
        elif not got_rows:
            problems.append(f"{name}: empty result")
    return problems


def record_overhead(workload, trace, artifact):
    """Keep the end-to-end values of the last untraced run of a workload;
    a traced run adds to its artifact how far its own end-to-end values
    moved from them: the overhead of tracing."""
    untraced = os.path.join(HERE, "out", f"{workload}-untraced.json")
    doc = json.load(open(artifact))
    if not trace:
        shutil.copyfile(artifact, untraced)
    elif os.path.isfile(untraced):
        base = json.load(open(untraced))["end_to_end"]
        doc["tracing_overhead"] = {k: v - base[k] for k, v in doc["end_to_end"].items() if k in base}
        with open(artifact, "w") as f:
            json.dump(doc, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    classpath = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.perf_counter()
        corpus_dir = os.path.join(work, "corpus")
        if a.workload == "registry_slice":
            import corpus  # numpy and pyarrow are slow to import
            corpus.generate(corpus_dir)
        pre_setup = time.perf_counter() - t0
        artifact = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        cmd = java_cmd(classpath, work,
                       "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--work", work, "--corpus", corpus_dir,
                       "--pre-setup-s", repr(pre_setup), "--artifact", artifact)
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=170)
        lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH ")]
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"benchmark JVM exited with code {proc.returncode}")
        res = json.loads(lines[-1][len("PERFBENCH "):])
        record_overhead(a.workload, a.trace, artifact)

        problems = check_registry(res["results_dir"], corpus_dir, res["oracles"])
        attempted = res["attempted"] + len(res["oracles"])
        failed = res["failed"] + len(problems)
        errors = res["errors"] + problems
        for e in errors:
            log(f"check failed: {e}")
        metrics = res["metrics"]
        if not a.trace:
            metrics["ops_ok_frac"] = 1.0 - failed / attempted
        unknown = set(metrics) - set(declared)
        if unknown:
            raise RuntimeError(f"metrics {sorted(unknown)} are not declared in BENCHMARK.json")
        if a.trace:
            for name in declared:
                if name not in metrics and name.startswith(IDLE[a.workload]):
                    metrics[name] = 0
        missing = set(declared) - set(metrics)
        if missing:
            raise RuntimeError(f"the run measured no value for {sorted(missing)}")
        out = {"correct": not errors, "attempted": int(attempted), "failed": int(failed),
               "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # any failure: no result line, non-zero exit
        log(f"error: {e}")
        sys.exit(1)
