"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload snapshot_diff --seed 1 --seconds 15 --trace 0

Builds the program from source when needed (build.py), runs the workload in
one JVM whose Spark session has CORES task slots and a HEAP heap (fixed
here, the same on every commit), then recomputes every snapshot_diff census
with DuckDB over the same parquet files. The last line is

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Exit code 0 only when every operation succeeded and every
check passed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
CORES = 4
# A heap cap and a fixed young generation, but no -Xms: the old generation,
# and with it the resident set, grows with what the program keeps in memory.
# Fixing the young size keeps G1's adaptive young sizing out of peak RSS.
HEAP_OPTS = ["-Xmx3g", "-Xmn1g"]
JVM_TIMEOUT_S = 170
# What spark-submit adds on JDK 17 (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(cp: str, work: Path, args: list, timeout: int = JVM_TIMEOUT_S) -> int:
    """Run perfbench.Main; its stdout and stderr go to our stderr. Main
    times set-up from the wall-clock moment just before the process starts.
    """
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + HEAP_OPTS + ["-Xss4m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--work", str(work), "--cores", str(CORES)] + args)
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] JVM killed after {timeout} s", file=sys.stderr)
        return 124


def duckdb_census(left: str, right: str, keys: list) -> dict:
    """N/C/I/D census of a keyed full-outer diff, computed by DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    lsrc = f"read_parquet('{left}/*.parquet')"
    rsrc = f"read_parquet('{right}/*.parquet')"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {lsrc}").fetchall()]
    vals = [c for c in cols if c not in keys]
    on = " AND ".join(f"l.{k} = r.{k}" for k in keys)
    same = " AND ".join(f"l.{c} IS NOT DISTINCT FROM r.{c}" for c in vals) or "TRUE"
    rows = con.execute(f"""
        SELECT CASE WHEN l.__l IS NULL THEN 'I' WHEN r.__r IS NULL THEN 'D'
                    WHEN {same} THEN 'N' ELSE 'C' END AS s, count(*)
        FROM (SELECT *, TRUE AS __l FROM {lsrc}) l
        FULL OUTER JOIN (SELECT *, TRUE AS __r FROM {rsrc}) r ON {on}
        GROUP BY 1""").fetchall()
    con.close()
    return {s: n for s, n in rows}


def census_matches(got: dict, want: dict) -> bool:
    return all(got.get(s, 0) == want.get(s, 0) for s in set(got) | set(want))


def external_checks(entries: list) -> list:
    """One outcome (None or a message) per snapshot_diff pass."""
    out = []
    for e in entries:
        got = duckdb_census(e["left"], e["right"], e["keys"])
        ok = census_matches(got, e["planted"])
        out.append(None if ok else f"DuckDB census {got} != planted {e['planted']}")
    return out


def workloads() -> list:
    """The workload names, as BENCHMARK.json at the repository root lists them."""
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    return [w["name"] for w in spec["workloads"]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = BENCH / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "result.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", str(out)]
    if a.trace:
        args += ["--trace-file", str(BENCH / "out" / f"trace-{a.workload}-{a.seed}.json")]
    try:
        code = jvm(cp, work, args)
        if code != 0 or not out.is_file():
            print(f"[perfbench] JVM exited with {code}", file=sys.stderr)
            return 3
        res = json.loads(out.read_text())
        failures = list(res["failures"])
        ext = external_checks(res["external"])
        failures += [f"duckdb pass {i}: {m}" for i, m in enumerate(ext) if m]
        attempted = res["attempted"] + len(ext)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    later = res["pass_figures"][1:]
    if a.trace and later:
        # the untraced metrics of this traced run, for the tracing overhead
        rate = statistics.median(p["rows"] / p["wall_s"] for p in later)
        cpu = statistics.median(p["cpu_s"] for p in later)
        print(f"[perfbench] traced run: rows_per_s {rate:.6g}, cpu_s {cpu:.6g}", file=sys.stderr)
    print(f"[perfbench] {a.workload} seed {a.seed}: {res['passes']} passes, "
          f"pass walls {[round(p['wall_s'], 3) for p in res['pass_figures']]}, "
          f"setup {res['setup_s']:.3f} s", file=sys.stderr)
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
