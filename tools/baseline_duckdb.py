#!/usr/bin/env python3
"""Time the DuckDB oracle suite — the standing numeric baseline for
the "within 2x of BASELINE" gate. Runs every oracle_sql.json entry
against the same parquet tables the Spark bench reads, min-of-N per
query (pass-structured like graft.Bench: N full passes over the
suite, per-query minimum across passes), and writes a JSON artifact.

Usage:
  python3 tools/baseline_duckdb.py /root/testdata/sf0.1 \
      /tmp/vout/oracle_sql.json /tmp/baseline_duckdb.json [passes]

Run QUIET (no concurrent JVMs) — same contamination rules as
graft.Bench. DuckDB runs SPARK_GRAFT_CPUS threads (else nproc), the
count graft.Bench runs Spark with; the artifact records it.
"""
import sys, os, json, time
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main(sfdir, oracle_path, out_path, passes=3):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(os.environ.get('SPARK_GRAFT_CPUS') or len(os.sched_getaffinity(0)))}")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(oracle_path))
    names = sorted(oracle)
    threads = con.execute("SELECT current_setting('threads')").fetchone()[0]

    # Like-work probe baselines (standing-index entries): the full
    # oracle re-mines from scratch — unlike the work the graft entry
    # does (probe a materialized standing index). If Verify dumped
    # likework_sql.json next to the oracle, those entries are timed as
    # setup (untimed artifact build, production's standing state) +
    # probe query, AFTER asserting the probe returns the exact same
    # rows as the full oracle. The full-mine time is still recorded
    # (fullmine_queries) for transparency.
    likework = {}
    lw_path = os.path.join(os.path.dirname(oracle_path), "likework_sql.json")
    if os.path.exists(lw_path):
        lw = json.load(open(lw_path))
        for name, spec in lw.items():
            if name not in oracle:
                continue
            for stmt in spec["setup"]:
                con.execute(stmt)
            probe_rows = sorted(map(tuple, con.execute(spec["query"]).fetchall()))
            full_rows = sorted(map(tuple, con.execute(oracle[name]).fetchall()))
            if probe_rows == full_rows:
                likework[name] = spec
            else:
                print(f"likework {name}: probe != full oracle, "
                      "keeping full-mine timing", file=sys.stderr)

    per_pass = []          # list of {name: sec} per pass
    fullmine_pass = []     # full-mine times for likework entries
    pass_totals = []
    for p in range(passes):
        times = {}
        fullmine = {}
        t_pass = time.monotonic()
        for name in names:
            if name in likework:
                # artifact build is untimed (standing state), probe is timed
                for stmt in likework[name]["setup"]:
                    con.execute(stmt)
                t0 = time.monotonic()
                con.execute(likework[name]["query"]).fetchall()
                times[name] = round(time.monotonic() - t0, 4)
                t0 = time.monotonic()
                con.execute(oracle[name]).fetchall()
                fullmine[name] = round(time.monotonic() - t0, 4)
            else:
                t0 = time.monotonic()
                con.execute(oracle[name]).fetchall()   # full materialization
                times[name] = round(time.monotonic() - t0, 4)
        pass_totals.append(round(time.monotonic() - t_pass, 3))
        per_pass.append(times)
        fullmine_pass.append(fullmine)
        print(f"pass {p + 1}/{passes}: {pass_totals[-1]}s", file=sys.stderr)

    best = {n: min(pp[n] for pp in per_pass) for n in names}
    artifact = {
        "engine": "duckdb",
        "version": duckdb.__version__,
        "threads": int(threads),
        "sf_dir": sfdir,
        "passes": passes,
        "queries": len(names),
        "pass_totals": pass_totals,
        "best_total": round(sum(best.values()), 3),
        "best_queries": best,
        "likework_queries": sorted(likework),
        "fullmine_queries": {n: min(fp[n] for fp in fullmine_pass)
                             for n in likework} if likework else {},
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({k: artifact[k] for k in
                      ("engine", "version", "threads", "sf_dir", "passes",
                       "queries", "pass_totals", "best_total")}))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3],
         int(sys.argv[4]) if len(sys.argv) > 4 else 3)
