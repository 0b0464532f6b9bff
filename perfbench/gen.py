"""Seeded inputs for the drain workloads, the expected destination, and
the output checks.

The engine only ever sees the parquet files written here. The expected
destination is computed in this module, independently of the engine:
for `drain_append` it is the source itself, for `cdc_upsert` it is a
plain fold of the changelog over the pre-loaded replica.

Table shapes follow FIXTURES.md: the replicated user table `x`
(A1: id, name, dob, enabled) and the trigger-style changelog
`MigratorRecordQueue` (A2).
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per workload and size. `tiny` is for the smoke test only.
SIZES = {
    "full": {"source_rows": 150_000, "source_files": 6,
             "replica_rows": 150_000, "changelog_rows": 40_000,
             "changelog_files": 6},
    "tiny": {"source_rows": 6_000, "source_files": 3,
             "replica_rows": 3_000, "changelog_rows": 4_000,
             "changelog_files": 2},
}

# changelog mix for cdc_upsert; the remaining entries UPDATE new keys
UPDATE_EXISTING, REMOVE = 0.8, 0.1

SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("name", pa.string()),
    ("dob", pa.timestamp("us", tz="UTC")),
    ("enabled", pa.bool_()),
])
QUEUE_SCHEMA = pa.schema([
    ("sourceDatabase", pa.string()),
    ("sourceTable", pa.string()),
    ("pkColumn", pa.string()),
    ("pkValue", pa.string()),
    ("timestampUpdated", pa.timestamp("us", tz="UTC")),
    ("method", pa.string()),
])
DOB_LO = 946_684_800_000_000 - 70 * 365 * 86_400_000_000  # ~1930, in us
DOB_SPAN = 70 * 365 * 86_400_000_000
QUEUE_T0 = 1_700_000_000_000_000  # changelog clock start, in us


def _user_rows(rng, ids, tag):
    """A1 rows for `ids`; `tag` marks which version of a row this is."""
    n = len(ids)
    enabled = rng.random(n) < 0.7
    null = rng.random(n) < 0.05
    return {
        "id": ids.astype(np.int64),
        "name": [f"{tag}-{i}" for i in ids.tolist()],
        "dob": DOB_LO + rng.integers(0, DOB_SPAN, n),
        "enabled": [None if z else bool(e) for e, z in zip(enabled, null)],
    }


def _table(rows, schema=SCHEMA):
    return pa.Table.from_pydict(rows, schema=schema)


def _write_files(table, directory, files):
    """Write `table` as `files` contiguous parts, as an append-only table
    grows."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(directory, f"part-{i:05d}.parquet"))


def append_inputs(seed, root, size):
    """Source for the sequential INSERT drain: long keys rising with
    seeded gaps. Returns the expected destination and input properties."""
    s = SIZES[size]
    rng = np.random.default_rng(seed)
    n = s["source_rows"]
    gaps = rng.integers(1, 6, n)
    ids = 1000 + np.cumsum(gaps)
    source = _table(_user_rows(rng, ids, "s"))
    _write_files(source, os.path.join(root, "source", "x.parquet"),
                 s["source_files"])
    props = {"source_rows": n, "source_files": s["source_files"],
             "key_gap_mean": float(gaps.mean()), "max_key": int(ids[-1])}
    return source, props


def cdc_inputs(seed, root, size):
    """Replica pre-load, current source table and changelog for the queue
    CDC drain. Returns the expected destination and input properties."""
    s = SIZES[size]
    rng = np.random.default_rng(seed)
    r = s["replica_rows"]
    replica_ids = 1000 + np.cumsum(rng.integers(1, 4, r))
    replica = _user_rows(rng, replica_ids, "r")

    # changelog: skewed UPDATEs of existing keys (a power law over a
    # seeded permutation, so hot keys repeat within a batch), REMOVEs of
    # existing keys, and UPDATEs of keys new to the replica
    n = s["changelog_rows"]
    kind = rng.random(n)
    hot = rng.permutation(replica_ids)
    skewed = hot[(r * rng.random(n) ** 4).astype(np.int64)]
    uniform = replica_ids[rng.integers(0, r, n)]
    is_new = kind >= UPDATE_EXISTING + REMOVE
    new_ids = int(replica_ids[-1]) + np.cumsum(rng.integers(1, 4, int(is_new.sum())))
    keys = np.where(kind < UPDATE_EXISTING, skewed, uniform)
    keys[is_new] = new_ids
    methods = np.where((kind >= UPDATE_EXISTING) & ~is_new, "REMOVE", "UPDATE")

    # the source's current state: every key whose last changelog entry is
    # an UPDATE carries the values of that update; REMOVEd keys are gone
    last = {}
    for i, (k, m) in enumerate(zip(keys.tolist(), methods.tolist())):
        last[k] = (i, m)
    updated = sorted(k for k, (_, m) in last.items() if m == "UPDATE")
    current = _user_rows(rng, np.array(updated, dtype=np.int64), "u")
    current["name"] = [f"u{last[k][0]}-{k}" for k in updated]
    untouched = ~np.isin(replica_ids, np.array(list(last), dtype=np.int64))
    base = pa.concat_tables([
        _table(current),
        _table(replica).filter(pa.array(untouched)),
    ]).sort_by("id")

    queue = _table({
        "sourceDatabase": ["src"] * n,
        "sourceTable": ["x"] * n,
        "pkColumn": ["id"] * n,
        "pkValue": [str(k) for k in keys.tolist()],
        "timestampUpdated": QUEUE_T0 + np.arange(n, dtype=np.int64) * 1_000_000,
        "method": methods.tolist(),
    }, QUEUE_SCHEMA)

    _write_files(_table(replica), os.path.join(root, "dest", "x.parquet"), 1)
    _write_files(base, os.path.join(root, "source", "x.parquet"), 4)
    _write_files(queue, os.path.join(root, "queue", "MigratorRecordQueue"),
                 s["changelog_files"])

    expected = fold(_table(replica), base, keys.tolist(), methods.tolist())
    props = {"replica_rows": r, "changelog_rows": n,
             "remove_share": float((methods == "REMOVE").mean()),
             "new_key_share": float(is_new.mean()),
             "distinct_keys": len(last),
             "top1pct_key_share": _top_share(keys, 0.01),
             "source_rows": base.num_rows,
             "expected_dest_rows": expected.num_rows}
    return expected, props


def _top_share(keys, frac):
    """Share of changelog entries that hit the hottest `frac` of keys."""
    _, counts = np.unique(keys, return_counts=True)
    counts = np.sort(counts)[::-1]
    top = max(1, int(len(counts) * frac))
    return float(counts[:top].sum() / counts.sum())


def fold(replica, base, keys, methods):
    """Apply the changelog entry by entry to the replica. An UPDATE copies
    the source's current row (a key the source no longer has leaves the
    replica as it is); a REMOVE deletes the key."""
    at_source = {k: i for i, k in enumerate(base.column("id").to_pylist())}
    # key -> (table, row): 0 the replica row, 1 the source row
    state = {k: (0, i) for i, k in enumerate(replica.column("id").to_pylist())}
    for k, m in zip(keys, methods):
        if m == "REMOVE":
            state.pop(k, None)
        elif k in at_source:
            state[k] = (1, at_source[k])
    rows = [[i for t, i in state.values() if t == side] for side in (0, 1)]
    return pa.concat_tables([replica.take(rows[0]), base.take(rows[1])]) \
        .sort_by("id")


WARMUP_COPIES = 3


def generate(workload, seed, root, size):
    """Write the inputs under `root/timed`, and copies under
    `root/warmup-<i>` for the warm-up drains, so the measured drain starts
    from the same state however long the warm-up ran."""
    if os.path.exists(root):
        shutil.rmtree(root)
    make = append_inputs if workload == "drain_append" else cdc_inputs
    out = make(seed, os.path.join(root, "timed"), size)
    for i in range(WARMUP_COPIES):
        shutil.copytree(os.path.join(root, "timed"),
                        os.path.join(root, f"warmup-{i}"))
    return out


# ---------------------------------------------------------------- checks

def _read_dir(directory):
    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(directory) for f in names
        if f.endswith(".parquet") and not f.startswith((".", "_")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files],
                            promote_options="permissive")


def _normal(table):
    """The table in one canonical form: schema columns only, timestamps as
    epoch microseconds, rows sorted by every column."""
    cols = {}
    for field in SCHEMA:
        c = table.column(field.name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64())
        cols[field.name] = c.cast(pa.int64()) if field.name == "id" else c
    return pa.table(cols).combine_chunks().sort_by(
        [(n, "ascending") for n in SCHEMA.names])


def _rows(table):
    return set(zip(*(table.column(n).to_pylist() for n in table.column_names)))


def check(workload, root, expected):
    """Return a list of failed checks (empty when the outputs are right)."""
    timed = os.path.join(root, "timed")
    problems = []
    dest = _read_dir(os.path.join(timed, "dest", "x.parquet"))
    if dest is None:
        return ["destination is missing"]
    got, want = _normal(dest), _normal(expected)
    if not got.equals(want):
        extra = len(_rows(got) - _rows(want))
        missing = len(_rows(want) - _rows(got))
        problems.append(f"destination differs from the expected state: "
                        f"{got.num_rows} rows vs {want.num_rows}, "
                        f"{extra} unexpected, {missing} missing")
    if workload == "drain_append":
        tracking = os.path.join(timed, "tracking")
        pointer = os.path.join(tracking, "_CURRENT")
        snap = None
        if os.path.exists(pointer):
            with open(pointer) as f:
                snap = _read_dir(os.path.join(tracking, f.read().strip()))
        pos = snap.column("sequentialPosition").to_pylist() if snap else []
        top = max(expected.column("id").to_pylist())
        if pos != [top]:
            problems.append(f"tracking position {pos} is not caught up to {top}")
    else:
        qdir = os.path.join(timed, "queue", "MigratorRecordQueue")
        entries = _read_dir(qdir)
        acks = _read_dir(qdir + "__acks")

        def ids(t):
            ts = t.column("timestampUpdated").cast(
                pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_pylist()
            return set(zip(t.column("pkValue").to_pylist(), ts))
        pending = ids(entries) - (ids(acks) if acks is not None else set())
        if pending:
            problems.append(f"{len(pending)} changelog entries are not acked")
    return problems
