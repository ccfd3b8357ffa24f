"""Workload constants, the seeded binlog schedule, and the replica
state a schedule must leave behind.

Every input of a run derives from `--seed` through `numpy`'s PCG64, so
the same seed gives the same schedule, lookup keys and tables. The
rates and sizes here are constants of each workload: nothing is
recalibrated per run.
"""
import numpy as np

ROWS_PER_TXN = 5          # row images per transaction (Replica.RowsPerTxn)
CORES = 4                 # local[4]: sized for a 4-core host
SHUFFLE_PARTITIONS = 4
SETUP_REPS = 3            # set-ups per run; setup_s is their median

WORKLOADS = {
    # set-up, then an open loop at a fixed rate: lag is timed from each
    # file's due time
    "replica_stream": dict(
        standing_txns=20_000, backlog_files=2, backlog_txns_per_file=1_250,
        file_interval_s=3.0, txns_per_file=200, warmup_s=12.0,
        upsert_window_txns=10_000, lookups=16, min_rounds=0),
    # set-up, then a closed loop with one client: queries, lookups, scans
    "analytics_mix": dict(
        standing_txns=20_000, backlog_files=0, backlog_txns_per_file=0,
        lookups=16, min_rounds=3, warmup_passes=3,
        entries=["q1_agg", "q25_asof_join", "cur_dsir", "mm_decode"]),
}

FAMILIES = {
    "relational": ["q1_agg", "q25_asof_join"],
    "native": ["cur_dsir"],
    "media": ["mm_decode"],
}


def file_name(i):
    """Binlog file i (1-based); names sort in commit order."""
    return f"mysql-bin.{i:06d}"


def schedule(workload, seed, seconds):
    """The binlog files of a run: (name, first_gno, n_txns, due_s).

    First the backlog the set-up applies (due -1: present before the
    clock starts), then, for replica_stream, one file every
    file_interval_s seconds for the warm-up and the measured seconds.
    Odd files append the next transactions (new keys). Even files
    rewrite a seed-chosen contiguous run of existing transactions, so
    they upsert keys already in the table; streamed files choose the
    run among the most recent `upsert_window_txns` transactions.
    """
    w = WORKLOADS[workload]
    rng = np.random.Generator(np.random.PCG64(seed))
    files = [(w["backlog_txns_per_file"], -1.0, None)] * w["backlog_files"]
    if "file_interval_s" in w:
        n = int(round((w["warmup_s"] + seconds) / w["file_interval_s"]))
        files += [(w["txns_per_file"], i * w["file_interval_s"], w["upsert_window_txns"])
                  for i in range(n)]
    top = w["standing_txns"]                    # highest gno written so far
    out = []
    for i, (per, due, window) in enumerate(files, start=1):
        if i % 2 == 1:
            first = top + 1
            top += per
        else:
            lo = 1 if window is None else max(1, top - window + 1)
            first = int(rng.integers(lo, top - per + 2))
        out.append((file_name(i), first, per, due))
    return out


def measured_files(workload, sched):
    """Names of the streamed files whose lag is measured (after the warm-up)."""
    warm = WORKLOADS[workload].get("warmup_s", 0.0)
    return [f[0] for f in sched if f[3] >= warm]


def expected_sources(standing_txns, sched):
    """The replica state a schedule leaves: index k holds the source of
    key k -- "" for keys never touched since the bootstrap, else the
    name of the last file that wrote the key. Keys run 1..len-1 with
    no gaps; every title is `row-<key>`."""
    top = max([standing_txns] + [first + n - 1 for _, first, n, _ in sched])
    src = np.full(top * ROWS_PER_TXN + 1, "", dtype=object)
    for name, first, n, _ in sched:             # file order is commit order
        src[(first - 1) * ROWS_PER_TXN + 1:(first - 1 + n) * ROWS_PER_TXN + 1] = name
    src[0] = None
    return src


def lookup_keys(workload, seed, standing_txns):
    """Seed-chosen keys for point lookups, among the bootstrapped keys
    (present in every state the schedule passes through)."""
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    n = WORKLOADS[workload]["lookups"]
    return [int(k) for k in rng.integers(1, standing_txns * ROWS_PER_TXN + 1, n)]
