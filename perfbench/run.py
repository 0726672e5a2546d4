#!/usr/bin/env python3
"""Repository benchmark: one seeded, closed-loop engine workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while no
source is newer. The JVM runs at local[nproc] with the heap pinned like the
engine's test runs. Human-readable lines come first; the last line of
standard output is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSPATH = TARGET / "bench-classpath.txt"
WORKLOADS = ("audit_fused", "driver_mix")
# Spark on JDK 17 outside spark-submit needs these (as in the engine build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
DEADLINE_S = 170  # every run must end within 180 s; a first run may build for longer
BUILD_DEADLINE_S = 700


def log(msg):
    print(msg, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: no Spark install found (set SPARK_HOME)")
    return home


def sources():
    for base in (ROOT / "src" / "main", BENCH / "src"):
        yield from (p for p in base.rglob("*") if p.is_file())
    yield BENCH / "build.sbt"


def build(env):
    """Compiles engine + harness and records the runtime classpath."""
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit("perfbench: engine sources not found; run from the root of a checkout")
    if CLASSPATH.exists():
        stamp = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime <= stamp for p in sources()):
            return
    log("[build] compiling engine and harness with sbt")
    t0 = time.time()
    sbt_opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if "sbt.offline" not in sbt_opts and repos.exists():
        sbt_opts += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                     " -Dsbt.offline=true")
    benv = dict(env, SBT_OPTS=sbt_opts.strip(), COURSIER_MODE=env.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "writeClasspath"],
        cwd=BENCH, env=benv, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_DEADLINE_S)
    if proc.returncode != 0 or not CLASSPATH.exists():
        sys.stderr.write(proc.stdout[-6000:])
        sys.exit(f"perfbench: build failed (exit {proc.returncode})")
    os.utime(CLASSPATH)
    log(f"[build] done in {time.time() - t0:.1f} s")


def heap():
    """Half the host's memory in GiB, clamped to [2, 8] — the tier-1 test heap."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def norm(v):
    """Driver-style cell normalisation: floats at 6 significant digits."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table(rel):
    cols = sorted(rel.columns)
    rows = rel.fetchall()
    idx = [rel.columns.index(c) for c in cols]
    return cols, sorted(tuple(norm(r[i]) for i in idx) for r in rows)


def oracle_compare(spec):
    """Runs each query's SparkEntry.oracleSql twin in DuckDB over the same
    generated tables; returns {query: mismatch message or None}."""
    import duckdb
    con = duckdb.connect()
    data = Path(spec["data_dir"])
    for t in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    out = {}
    for q, qs in spec["queries"].items():
        try:
            got = table(con.sql(f"SELECT * FROM read_parquet('{spec['out_dir']}/{q}/*.parquet')"))
            want = table(con.sql(qs["sql"]))
            if got[0] != want[0]:
                out[q] = f"columns {got[0]} != oracle {want[0]}"
            elif got[1] != want[1]:
                out[q] = f"{len(got[1])} rows differ from the oracle's {len(want[1])}"
            else:
                out[q] = None
        except Exception as e:  # a failed oracle run is a failed check
            out[q] = f"oracle error: {e}"
    con.close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)
    start = time.time()
    work = TARGET / "work" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    mem = heap()
    log(f"[env] nproc={cores} heap={mem}")
    cmd = (["java", f"-Xmx{mem}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
              "-cp", CLASSPATH.read_text().strip(), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--cores", str(cores)])
    jenv = dict(env, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=jenv, start_new_session=True)

    def stop(signum, _frame):
        """The JVM runs in its own process group: take it down with us."""
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded its deadline")
    result_file = work / "result.json"
    if proc.returncode != 0 or not result_file.exists():
        sys.exit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
    res = json.loads(result_file.read_text())

    failed = res["failed"]
    if res.get("oracle"):
        for q, err in oracle_compare(res["oracle"]).items():
            ops = res["oracle"]["queries"][q]["ops"]
            if err:
                failed += ops
                log(f"[check] FAIL {q} vs oracleSql: {err}")
            else:
                log(f"[check] {q} == oracleSql ({ops} runs)")
    correct = res["correct"] and failed == 0
    log(f"[check] {'PASS' if correct else 'FAIL'} correct={str(correct).lower()} "
        f"attempted={res['attempted']} failed={failed}")
    # keep the trace and the result; the generated tables are rebuilt every run
    for p in work.glob("data-*"):
        shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
