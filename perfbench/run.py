#!/usr/bin/env python3
"""Builds and runs the engine benchmark for one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--out FILE]

Run from the repository root. The first run compiles the engine sources
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in $SPARK_HOME/jars into .bench_build/, and dumps the class data
sharing archive every run then maps. Each run appends its full
record (run manifest, raw samples, per-layer detail) to FILE, by default
.bench_results/<workload>.jsonl, and prints the compact result as the last
line of standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path


BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
DATA = BENCH / "data" / "sf0.001"
WORKLOADS = ("doc_pipeline", "table_write", "query_suite")
RUN_LIMIT_S = 170
TRAIN_LIMIT_S = 600

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars, from $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    jars = sorted((Path(home) / "jars").glob("*.jar")) if home else []
    if not jars:
        fail("no Spark jars found: set SPARK_HOME to a Spark 4 distribution")
    return jars


def sources():
    engine = sorted(ENGINE_SRC.rglob("*.scala"))
    if not engine:
        fail(f"engine sources missing: {ENGINE_SRC.relative_to(ROOT)} has no .scala files")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def source_hash(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_jar(srcs, jars, digest):
    """Compiles engine + benchmark once per source hash into one jar;
    returns its build directory."""
    out = ROOT / ".bench_build" / "perfbench" / digest[:16]
    if (out / "perfbench.jar").exists():
        return out
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala-compiler/library/reflect jars not found among the Spark jars")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, compiler)),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           "-classpath", ":".join(map(str, jars)), *map(str, srcs)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    with zipfile.ZipFile(out / "perfbench.jar.tmp", "w", zipfile.ZIP_STORED) as z:
        for p in sorted(tmp.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(tmp))
    shutil.rmtree(tmp)
    (out / "perfbench.jar.tmp").rename(out / "perfbench.jar")
    return out


def java(built, jars, heap_mb, work, archive_flag):
    """The benchmark JVM: fixed heap and generation sizes (no resizing
    drift between passes) and the build's class data sharing archive."""
    return ["java", *ADD_OPENS, f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m",
            "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", *archive_flag,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", ":".join([str(built / "perfbench.jar"), *map(str, jars)]), "perfbench.Main"]


def build(srcs, jars, digest, nproc, heap_mb):
    """The jar plus a class data sharing archive (`app.jsa`) of the
    classes an unmeasured training run loads: every workload once, on
    small inputs. Every measured run maps the archive (-Xshare:on: a run
    that cannot map it fails), which takes ~5 s of JVM and Spark cold start
    out of each run's wall and out of no metric."""
    built = compile_jar(srcs, jars, digest)
    archive = built / "app.jsa"
    if archive.exists():
        return built
    work = ROOT / ".bench_work" / f"train-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    dump = built / "app.jsa.tmp"
    cmd = java(built, jars, heap_mb, work, [f"-XX:ArchiveClassesAtExit={dump}"]) + [
        "--train", "1", "--cores", str(nproc), "--work", str(work), "--data", str(DATA)]
    try:
        with open(work / "jvm.log", "w") as log:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=TRAIN_LIMIT_S)
        if r.returncode != 0 or not dump.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            fail(f"class data sharing training run exited with {r.returncode}", 1)
    except subprocess.TimeoutExpired:
        fail(f"class data sharing training run exceeded {TRAIN_LIMIT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    dump.rename(archive)
    return built


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def oracle_failures(raw):
    """Row count of every timed query against its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    want = {}
    for name, sql in raw["detail"]["oracle_sql"].items():
        want[name] = (con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS q")
                      .fetchone()[0] if sql else None)
    con.close()
    out = []
    for run in raw["detail"]["runs"]:
        for q in run:
            if q["error"]:
                continue  # already counted by the program
            if want[q["name"]] is None:
                out.append(f"{q['name']} has no oracle")
            elif q["rows"] != want[q["name"]]:
                out.append(f"{q['name']} returned {q['rows']} rows, oracle {want[q['name']]}")
    return out, want


def steady_wall(workload, raw):
    """Median wall of a timed pass; on the suite, the sum over its queries
    of each query's median wall, so one slow query in one pass does not
    move it."""
    if workload != "query_suite":
        return statistics.median(raw["pass_s"])
    walls = {}
    for run in raw["detail"]["runs"]:
        for q in run:
            walls.setdefault(q["name"], []).append(q["wall_s"])
    return sum(statistics.median(w) for w in walls.values())


def metric_specs():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="JSON-lines file the full record is appended to")
    a = ap.parse_args()
    end_to_end, per_layer = metric_specs()

    srcs = sources()
    jars = spark_jars()
    digest = source_hash(srcs)
    nproc = len(os.sched_getaffinity(0))
    mem_mb = mem_total_mb()
    heap_mb = max(1024, min(4096, mem_mb // 4))
    built = build(srcs, jars, digest, nproc, heap_mb)
    archive = built / "app.jsa"
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    cmd = java(built, jars, heap_mb, work, [f"-XX:SharedArchiveFile={archive}", "-Xshare:on"]) + [
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(nproc), "--work", str(work),
           "--data", str(DATA), "--raw", str(raw_path)]
    try:
        with open(work / "jvm.log", "w") as log:
            try:
                t0 = time.perf_counter()
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=RUN_LIMIT_S)
                jvm_s = time.perf_counter() - t0
            except subprocess.TimeoutExpired:
                fail(f"benchmark program exceeded {RUN_LIMIT_S} s", 1)
        if r.returncode != 0 or not raw_path.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            fail(f"benchmark program exited with {r.returncode}", 1)
        raw = json.loads(raw_path.read_text())
        spans_path = Path(str(raw_path) + ".spans.json")
        spans = json.loads(spans_path.read_text()) if spans_path.exists() else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = list(raw["failures"])
    oracle_rows = oracle_s = None
    if a.workload == "query_suite":
        t0 = time.perf_counter()
        more, oracle_rows = oracle_failures(raw)
        oracle_s = time.perf_counter() - t0
        failures += more
    attempted = raw["attempted"]
    items = raw["items"]
    values = {
        "items_per_s": items / steady_wall(a.workload, raw),
        "cpu_ms_per_item": statistics.median(raw["cpu_s"]) * 1e3 / items,
        "peak_rss_mb": raw["peak_rss_mb"],
        "setup_s": statistics.median(raw["setup_s"]),
    }
    specs = per_layer if a.trace else end_to_end
    layers = raw["layers"]
    metrics = {m["name"]: {"value": (layers.get(m["name"], 0.0) if a.trace else values[m["name"]]),
                           "unit": m["unit"]} for m in specs}
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}

    record = dict(result, workload=a.workload, seed=a.seed, trace=a.trace, seconds=a.seconds,
                  failed_share=len(failures) / attempted, failures=failures,
                  manifest={
                      "nproc": nproc, "mem_total_mb": mem_mb, "heap_mb": heap_mb,
                      "class_data_sharing": {"archive": str(archive.relative_to(ROOT)),
                                             "bytes": archive.stat().st_size, "xshare": "on"},
                      "git_sha": git_sha(), "source_hash": digest,
                      "seed": a.seed, "inputs": raw["inputs"], **raw["manifest"]},
                  samples={"reference_s": raw["reference_s"], "setup_s": raw["setup_s"], "warm_s": raw["warm_s"], "pass_s": raw["pass_s"],
                           "cpu_s": raw["cpu_s"], "items": items},
                  all_metrics=dict(values, **layers),
                  detail={k: v for k, v in raw["detail"].items() if k != "oracle_sql"},
                  jvm_s=jvm_s, oracle_rows=oracle_rows, oracle_s=oracle_s, span_summary=raw["spans"], spans=spans)
    out = Path(a.out) if a.out else ROOT / ".bench_results" / f"{a.workload}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    with open(out, "a") as f:
        f.write(json.dumps(record) + "\n")
    for line in failures:
        print(f"FAILED {line}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
