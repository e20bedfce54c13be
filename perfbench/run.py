#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and the
engine from the checkout's sources (perfbench/harness, sbt, offline); later
runs reuse the build while the sources are unchanged. Each run starts one
JVM with one warm local[4] session, sets up, runs an untimed warm-up that
also writes the outputs to check, then timed passes for S seconds. It
checks every output against DuckDB and prints a report, then, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` gives the end-to-end metrics; `--trace 1` installs listeners
and gives the per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
BUILD = BENCH / ".build"   # classpath and source stamp of the last build
WORK = BENCH / ".work"     # wiped at the start of every run
OUT = BENCH / "out"        # per-run reports and span files, kept

# data scale of the timed passes, and the smaller scale of the traced
# run's fixed-versus-proportional pass
SCALE, SMALL_SCALE = "sf0.1", "sf0.01"
WORKLOADS = ("etl_offers", "llm_curation", "table_sql")
JVM_TIMEOUT_S = 150
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_root():
    """The repository's test data (TESTDATA.md): PERFBENCH_DATA, else
    ~/testdata."""
    return Path(os.environ.get("PERFBENCH_DATA")
                or os.path.expanduser("~/testdata"))


def source_stamp():
    h = hashlib.sha256()
    files = [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the harness with the engine's sources; returns the
    classpath. Rebuilds only when a source file changed."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp \
            and cp_file.exists():
        return cp_file.read_text().strip()
    # offline: every dependency comes from the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(filter(None, [
        opts, "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true",
        "" if "-Xmx" in opts else "-Xmx2g"]))
    print("perfbench: building the harness and the engine ...",
          file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "harness" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def stage_table_inputs(data, stage):
    """table_sql's inputs, from lineitem: a unique key k (a row number in a
    total order of the source columns, since (l_orderkey, l_linenumber) is
    not unique), the first BASE_ROWS rows as the initial table and the next
    POOL_ROWS as BLOCK_ROWS-row blocks that INSERT, MERGE and the stream take
    without overlap (perfbench.TableSql holds the same shape)."""
    import duckdb
    base_rows, pool_rows, block_rows = 100_000, 500_000, 1_000
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE r AS SELECT CAST(row_number() OVER (ORDER BY l_orderkey, "
        "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
        "l_returnflag) AS BIGINT) AS k, l_orderkey AS orderkey, "
        "l_partkey AS partkey, CAST(l_quantity AS BIGINT) AS qty, "
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents, "
        f"l_returnflag AS flag FROM read_parquet('{data}/lineitem.parquet')")
    (stage / "base").mkdir(parents=True)
    con.execute(f"COPY (SELECT * FROM r WHERE k <= {base_rows} ORDER BY k) "
                f"TO '{stage}/base/base.parquet' (FORMAT parquet)")
    con.execute(
        f"COPY (SELECT *, CAST((k - {base_rows} - 1) // {block_rows} AS INTEGER) "
        f"AS block FROM r WHERE k > {base_rows} AND k <= {base_rows + pool_rows} "
        f"ORDER BY k) TO '{stage}/pool' (FORMAT parquet, PARTITION_BY (block))")
    (stage / "stream").mkdir()
    con.close()


def driver_mem():
    """The Tier-1 SPARK_DRIVER_MEM rule: half of RAM in GiB, clamped to
    2..8 GiB, unless SPARK_DRIVER_MEM is set."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(cp, args, log):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={WORK / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                cwd=WORK)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        fail(f"harness exited with {rc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"no engine sources next to {BENCH}; run from a checkout")
    data, small = data_root() / SCALE, data_root() / SMALL_SCALE
    for d in (data, small):
        if not (d / "lineitem.parquet").exists():
            fail(f"test data not found at {d} (set PERFBENCH_DATA)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are needed")

    sys.path.insert(0, str(BENCH))
    import check
    import metrics

    cp = build()
    if WORK.exists():
        shutil.rmtree(WORK)
    (WORK / "tmp").mkdir(parents=True)
    if a.workload == "table_sql":
        stage_table_inputs(data, WORK / "stage")
    run_jvm(cp, {"workload": a.workload, "seed": a.seed,
                 "seconds": a.seconds, "trace": a.trace, "data": data,
                 "small": small, "work": WORK}, WORK / "harness.log")

    t_check = time.time()
    spans = metrics.load_spans(WORK / "spans.jsonl")
    if a.workload == "table_sql":
        verdict = check.table(WORK)
    else:
        verdict = check.queries(WORK, data)
    res = metrics.compute(a.workload, spans, verdict, trace=bool(a.trace),
                          scale_ratio=10.0)
    res["report"]["check_s"] = time.time() - t_check
    OUT.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.copy(WORK / "spans.jsonl", OUT / f"{tag}.spans.jsonl")
    (OUT / f"{tag}.json").write_text(json.dumps(res["report"], indent=1))
    metrics.print_report(a.workload, res["report"])
    print(json.dumps(res["result"]))


if __name__ == "__main__":
    main()
