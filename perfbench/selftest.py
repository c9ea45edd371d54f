"""Self-test of the benchmark's output checks: no check passes vacuously.

    python3 perfbench/selftest.py

Runs one self-test-sized pass of every workload in the JVM (SelfTest.scala):
the real outputs must pass every check, and each corrupted output (one
changeset row dropped, one status flipped, one report row dropped, one
false pair added, ...) must fail its check. Then the DuckDB census check
must accept the planted census of the snapshot pass and reject it with one
count off by one. Exit code 0 only if all of that holds.
"""
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main() -> int:
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[selftest] build failed: {e}", file=sys.stderr)
        return 2
    work = run.BENCH / ".work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "result.json"
    try:
        code = run.jvm(cp, work, ["--selftest", "1", "--out", str(out)])
        if code != 0 or not out.is_file():
            print(f"[selftest] JVM exited with {code}")
            return 1
        res = json.loads(out.read_text())
        ok = res["ok"]
        for e in res["external"]:
            got = run.duckdb_census(e["left"], e["right"], e["keys"])
            real = run.census_matches(got, e["planted"])
            off = dict(e["planted"], N=e["planted"].get("N", 0) + 1)
            caught = not run.census_matches(got, off)
            print(f"[selftest] {'ok  ' if real else 'FAIL'} DuckDB census matches the planted census")
            print(f"[selftest] {'ok  ' if caught else 'FAIL'} DuckDB census check catches a count off by one")
            ok = ok and real and caught
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"[selftest] {'all checks behave' if ok else 'SOME CHECK MISBEHAVES'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
