"""Output checks. Each check is one operation: it counts as attempted,
and as failed when the output differs from what the inputs imply. All
of them run after the timed window.

- the replica table against the state the binlog schedule implies
  (plan.expected_sources): the key set, `title = row-<key>`, and the
  file that last wrote each key;
- each point lookup: exactly its expected row;
- each oracled analytics entry against its DuckDB `oracle` SQL over
  the same parquet tables, normalised as the repository's
  `tools/check.py` does;
- `mm_decode`, which has no oracle, against a content hash pinned
  from the library as first measured (its assets depend only on the
  document ids, which are the same under every seed).
"""
import glob
import hashlib
import json
import os

import numpy as np

import plan

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
PINNED = {
    "mm_decode": "62479a81e65dc5bb8e70c32824258d4c7af55603be19b1a26748357a44feef3d",
}


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages = []

    def check(self, what, problem):
        """Counts one check; `problem` is None when it passed."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.messages.append(f"{what}: {problem}")


def normalise(df):
    """Columns sorted by name, then rows sorted by every column."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, exp):
    """None when two frames hold the same rows after normalise(), with
    values compared as their string forms (nulls as NULL); else why not."""
    g, e = normalise(got), normalise(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gs, es = g[c].astype(str).fillna("NULL"), e[c].astype(str).fillna("NULL")
        if not (gs == es).all():
            i = int(np.argmax((gs != es).to_numpy()))
            return f"column {c} differs, first at row {i}: {gs.iloc[i]!r} vs {es.iloc[i]!r}"
    return None


def content_hash(df):
    g = normalise(df)
    h = hashlib.sha256("|".join(g.columns).encode())
    for row in g.astype(str).itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def read_parquet_dir(path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def table_problem(df, expected):
    """None when the dumped table (key, title, source_file) is exactly the
    expected replica state; else the first difference found."""
    if df is None:
        return "no table dump"
    keys = df["key"].to_numpy()
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    n = len(expected) - 1
    if len(keys) != n or not np.array_equal(keys, np.arange(1, n + 1)):
        return f"key set: {len(keys)} rows, expected keys 1..{n}"
    titles = df["title"].to_numpy()[order]
    want = np.char.add("row-", keys.astype(str))
    bad = np.flatnonzero(titles.astype(str) != want)
    if len(bad):
        return f"title of key {keys[bad[0]]} is {titles[bad[0]]!r}"
    src = np.array([os.path.basename(s) if s != "bootstrap" else "" for s in df["source_file"].to_numpy()[order]],
                   dtype=object)
    bad = np.flatnonzero(src != expected[1:])
    if len(bad):
        k = keys[bad[0]]
        return f"key {k} last written by {src[bad[0]] or 'bootstrap'!r}, expected {expected[k] or 'bootstrap'!r}"
    return None


def lookup_problem(lookup, expected):
    k = lookup["key"]
    want = [[k, f"row-{k}", expected[k] or "bootstrap"]]
    got = [[r[0], r[1], r[2]] for r in lookup["rows"]]
    return None if got == want else f"returned {got}, expected {want}"


def run_checks(workload, raw, work, sched, tally):
    standing = plan.WORKLOADS[workload]["standing_txns"]
    expected = plan.expected_sources(standing, sched)
    tally.check("replica table", table_problem(read_parquet_dir(os.path.join(work, "out", "table")), expected))
    for l in raw.get("lookups", []):
        tally.check(f"lookup {l['key']}", lookup_problem(l, expected))
    if workload == "analytics_mix":
        check_entries(work, plan.WORKLOADS[workload]["entries"], tally)


def check_entries(work, entries, tally):
    import duckdb
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/data/{t}.parquet')")
    path = os.path.join(work, "out", "oracle_sql.json")
    oracle = json.load(open(path)) if os.path.exists(path) else {}
    for name in entries:
        got = read_parquet_dir(os.path.join(work, "out", name))
        if got is None:
            tally.check(name, "no output")
        elif name in oracle:
            try:
                exp = con.execute(oracle[name]).fetchdf()
            except Exception as e:
                tally.check(name, f"oracle error {e}")
                continue
            tally.check(name, compare(got, exp))
        elif name in PINNED:
            h = content_hash(got)
            tally.check(name, None if h == PINNED[name] else f"content hash {h}")
        else:
            tally.check(name, "no oracle and no pinned hash")
