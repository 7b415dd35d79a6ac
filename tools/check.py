#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify,
then compare each query's parquet output against the DuckDB oracle
(columns sorted by name, rows sorted, exact value compare).

Usage: python3 tools/check.py [sf_dir] [only_query ...]

With query names, Verify runs only those queries and only they are
compared. Each compared query's line gives the seconds its DuckDB
oracle took; the slowest oracles and the wall time of the Verify run
and of the whole check are printed at the end.
"""
import json, math, subprocess, sys, os, glob, time

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = set(sys.argv[2:])
# pid-scoped: two concurrent checks (a background gate + a targeted
# query check) otherwise share one dump dir and wipe each other's
# outputs mid-compare (round-12 lesson: 147 phantom fails)
OUT = f"/tmp/graft_verify_{os.getpid()}"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ADD_OPENS = []
for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]

def run_verify():
    subprocess.run(["rm", "-rf", OUT])
    cmd = ["java"] + ADD_OPENS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Xmx8g",
        # SPARK_GRAFT_CLASSES: snapshot-classpath override — a check
        # running in the background dies with NoSuchMethodError when
        # sbt recompiles target/classes under it (round-12 lesson)
        "-cp", os.environ.get("SPARK_GRAFT_CLASSES",
                              f"{REPO}/target/scala-2.13/classes")
               + ":/opt/spark/jars/*",
        "graft.Verify", SF, OUT] + sorted(ONLY)
    # slots: SPARK_GRAFT_CPUS if set, else the host's cores (graft.Session)
    r = subprocess.run(cmd, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode)
        print(r.stderr[-4000:])
        sys.exit(1)

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def compare():
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    n_ok = n_bad = 0
    oracle_s = {}
    # rows-only queries (no oracle entry): smoke-check rows > 0, mirroring
    # the driver's weaker check, instead of silently ignoring them
    for d in sorted(glob.glob(f"{OUT}/q_*")):
        name = os.path.basename(d)
        if name in oracle or (ONLY and name not in ONLY):
            continue
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
            if n > 0:
                print(f"ok   {name} (rows-only, {n} rows)")
                n_ok += 1
            else:
                print(f"FAIL {name}: rows-only query returned 0 rows")
                n_bad += 1
        except Exception as e:
            print(f"FAIL {name}: rows-only read error: {e}")
            n_bad += 1
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY:
            continue
        pq = glob.glob(f"{OUT}/{name}/*.parquet")
        if not pq:
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").fetchall()
            gcols = [d[0] for d in con.description]
            t0 = time.monotonic()
            want = con.execute(sql).fetchall()
            oracle_s[name] = time.monotonic() - t0
            wcols = [d[0] for d in con.description]
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_bad += 1
            continue
        gi = sorted(range(len(gcols)), key=lambda i: gcols[i])
        wi = sorted(range(len(wcols)), key=lambda i: wcols[i])
        if sorted(gcols) != sorted(wcols):
            print(f"FAIL {name}: cols {sorted(gcols)} != {sorted(wcols)}")
            n_bad += 1
            continue
        g = sorted((tuple(norm(r[i]) for i in gi) for r in got), key=repr)
        w = sorted((tuple(norm(r[i]) for i in wi) for r in want), key=repr)
        if g == w:
            print(f"ok   {name} ({len(g)} rows, oracle {oracle_s[name]:.1f} s)")
            n_ok += 1
        else:
            n_bad += 1
            print(f"FAIL {name}: rows spark={len(g)} oracle={len(w)} "
                  f"(oracle {oracle_s[name]:.1f} s)")
            for a, b in list(zip(g, w))[:2000]:
                if a != b:
                    print(f"  spark : {a}\n  oracle: {b}")
                    break
            else:
                if len(g) != len(w):
                    only_g = [r for r in g[:50] if r not in w[:50]]
                    print("  extra in spark:", only_g[:2])
    slow = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]
    print("== slowest oracles: " +
          ", ".join(f"{n} {t:.1f} s" for n, t in slow) + " ==")
    print(f"== {n_ok} ok, {n_bad} fail ==")
    return n_bad

if __name__ == "__main__":
    # pid-scoped dump: clean on EVERY exit path (a failed run would
    # otherwise leak a uniquely-named multi-hundred-MB dir per attempt)
    # — including a stop by signal: SIGTERM (e.g. from `timeout`) would
    # end the process without running atexit hooks, so SIGTERM and
    # SIGINT become SystemExit, which unwinds (stopping a running
    # Verify child) and then runs the hook
    import atexit, signal
    atexit.register(lambda: subprocess.run(["rm", "-rf", OUT]))
    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop)
    t0 = time.monotonic()
    run_verify()
    t1 = time.monotonic()
    n_bad = compare()
    print(f"== wall: verify {t1 - t0:.0f} s, "
          f"total {time.monotonic() - t0:.0f} s ==")
    sys.exit(1 if n_bad else 0)
