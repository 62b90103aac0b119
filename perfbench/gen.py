"""Seeded input generator for the stream benchmark.

Records are produced in one global creation order at a fixed rate: record j
is created at j / rate seconds and gets event_id = first_id + j (the stream-
assigned sequence number, increasing stream-wide as `startingPosition=latest`
requires). Each record routes to shard `user_id % shards`; a shard flushes a
file once it holds `file_records` records, and the file is due when its last
record was created. A file may start with a replay run: the last
`replay_len` records of that shard's previous file re-sent with the same
event_ids and payloads (a KCL consumer replaying after failover). The run
length is fixed so that file sizes, and with them the batches a record cap
admits, do not depend on the seed.

Everything is a pure function of the seed and the workload parameters, so the
same seed stages byte-identical parquet files and the same ground truth.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_BASE_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z, the generator's clock origin
EVENT_TYPES = np.array(["view", "click", "cart", "buy"])

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def key_draws(rng, n, keys, zipf_s):
    """n user_ids over `keys` keys: uniform when zipf_s is 0, else Zipf(s) by rank."""
    if zipf_s == 0:
        return rng.integers(0, keys, n)
    ranks = np.arange(1, keys + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    ids = rng.permutation(keys)  # rank -> user_id, so hot keys spread over shards
    return ids[rng.choice(keys, n, p=p)]


def plan_files(seed, *, records, rate, keys, zipf_s, file_records, shards_before,
               shards_after=None, reshard_at=None, replay_p=0.0, replay_len=0, first_id=0,
               t0_ms=0.0):
    """Lay out `records` new records into shard files.

    Returns a list of dicts in due order: {shard, due_ms, cols} where cols maps
    column name to a numpy array (replayed records included).
    """
    rng = np.random.default_rng(seed)
    user = key_draws(rng, records, keys, zipf_s)
    value = np.round(rng.random(records) * 100.0, 3)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), records)]
    ids = first_id + np.arange(records, dtype=np.int64)
    created_ms = t0_ms + np.arange(records) * (1000.0 / rate)
    shards = np.full(records, shards_before)
    if reshard_at is not None:
        shards[reshard_at:] = shards_after
    shard = user % shards

    files, pending, last = [], {}, {}

    def flush(s, idx):
        idx = np.array(idx, dtype=np.int64)
        if replay_p and s in last and rng.random() < replay_p:
            idx = np.concatenate([last[s][-replay_len:], idx])
        last[s] = idx
        files.append({"shard": int(s), "due_ms": float(created_ms[idx[-1]]), "idx": idx})

    for j in range(records):
        if j == reshard_at:  # a split closes the parent shards: flush what they hold
            for s in sorted(pending):
                if pending[s]:
                    flush(s, pending[s])
            pending = {}
        s = int(shard[j])
        buf = pending.setdefault(s, [])
        buf.append(j)
        if len(buf) == file_records:
            flush(s, buf)
            pending[s] = []
    for s in sorted(pending):
        if pending[s]:
            flush(s, pending[s])
    files.sort(key=lambda f: (f["due_ms"], f["shard"]))
    for f in files:
        idx = f.pop("idx")
        f["cols"] = {
            "event_id": ids[idx],
            "ts": TS_BASE_US + (created_ms[idx] * 1000).astype(np.int64),
            "user_id": user[idx].astype(np.int64),
            "event_type": etype[idx],
            "value": value[idx],
            "props": np.array([f'{{"seq":{i % 97}}}' for i in ids[idx]]),
        }
    return files


def write_file(cols, path):
    table = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    }, schema=SCHEMA)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def ground_truth(files):
    """Per-key (distinct event_ids, min event_id, max event_id) over `files`:
    the `groupByKey(sent)` side of the reference's dedup oracle."""
    if not files:
        return {}
    uid = np.concatenate([f["cols"]["user_id"] for f in files])
    eid = np.concatenate([f["cols"]["event_id"] for f in files])
    pairs = np.unique(np.stack([uid, eid], axis=1), axis=0)
    truth = {}
    keys, starts, counts = np.unique(pairs[:, 0], return_index=True, return_counts=True)
    for k, s, c in zip(keys, starts, counts):
        ev = pairs[s:s + c, 1]
        truth[int(k)] = (int(c), int(ev.min()), int(ev.max()))
    return truth


def publish(files, root, first_file_id, mtime_base_s):
    """Write files straight into `root/shard=N/` with mtimes 1 ms apart in due
    order (the file source orders arrivals by modification time)."""
    for i, f in enumerate(files):
        d = os.path.join(root, f"shard={f['shard']}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"part-{first_file_id + i:05d}.parquet")
        write_file(f["cols"], path)
        t = mtime_base_s + i / 1000.0
        os.utime(path, (t, t))


def stage(files, staging, stream, first_file_id):
    """Write files into `staging/` for the in-process publisher; return plan
    rows (file_id, shard, due_ms, records, staged path, target path)."""
    os.makedirs(staging, exist_ok=True)
    rows = []
    for i, f in enumerate(files):
        fid = first_file_id + i
        src = os.path.join(staging, f"part-{fid:05d}.parquet")
        write_file(f["cols"], src)
        dst = os.path.join(stream, f"shard={f['shard']}", f"part-{fid:05d}.parquet")
        rows.append((fid, f["shard"], f["due_ms"], len(f["cols"]["event_id"]), src, dst))
    return rows
