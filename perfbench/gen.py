"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its arguments and the seed:
the same seed writes the same rows. Parquet is written with pyarrow so
the engine only ever receives files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000


def _table(cols):
    # numpy unicode columns go in as lists: converting them directly
    # would import pandas, which costs more than generating the data
    return pa.table({k: v.tolist() if isinstance(v, np.ndarray) and v.dtype.kind == "U" else v
                     for k, v in cols.items()})


def rows_of(path):
    return pq.ParquetFile(path).metadata.num_rows


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------- lake tables

def corpus(rng, n_docs):
    """documents: words from a 30-word vocabulary, 10-100 words each; 5% of
    docs repeat an earlier doc's text, half of them with a ' dup' suffix,
    so exact and near duplicates exist for the dedup operators."""
    n_words = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for n in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    dups = rng.choice(np.arange(n_docs // 2, n_docs), n_docs // 20, replace=False)
    for i in dups:
        src = int(rng.integers(0, n_docs // 2))
        texts[i] = texts[src] + (" dup" if rng.random() < 0.5 else "")
    ids = np.arange(n_docs, dtype=np.int64)
    return _table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": np.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n_vecs, dim=64):
    v = rng.standard_normal((n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32))
    return _table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })


def events(rng, n_events, n_users, days=30, prefixes=10):
    """events; the engine files event e under folder `part_<e % 50>`, and
    partition p of a partitioned indexer run takes the folders whose
    number starts with digit p. Only ids whose folder starts with a digit
    below `prefixes` are used (5: part_0..4 and part_10..49)."""
    ids = np.arange(n_events * 2 + 100, dtype=np.int64)
    f = ids % 50
    ids = ids[np.where(f < 10, f, f // 10) < prefixes][:n_events]
    ts = np.sort(T0_US + rng.integers(0, days * DAY_US, n_events))
    return _table({
        "event_id": ids,
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def star_schema(rng, n):
    """Small TPC-H-shaped tables: no workload key reads them, but the
    oracle compare registers every lake table, so each must exist."""
    nat = 25
    return {
        "region": _table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": [f"REGION{i}" for i in range(5)]}),
        "nation": _table({"n_nationkey": np.arange(nat, dtype=np.int32),
                            "n_name": [f"NATION{i}" for i in range(nat)],
                            "n_regionkey": (np.arange(nat) % 5).astype(np.int32)}),
        "customer": _table({"c_custkey": np.arange(n, dtype=np.int64),
                              "c_name": [f"Customer#{i}" for i in range(n)],
                              "c_nationkey": rng.integers(0, nat, n).astype(np.int32),
                              "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
                              "c_mktsegment": rng.choice(["BUILDING", "MACHINERY"], n)}),
        "supplier": _table({"s_suppkey": np.arange(n, dtype=np.int64),
                              "s_name": [f"Supplier#{i}" for i in range(n)],
                              "s_nationkey": rng.integers(0, nat, n).astype(np.int32),
                              "s_acctbal": np.round(rng.uniform(-999, 9999, n), 2)}),
        "part": _table({"p_partkey": np.arange(n, dtype=np.int64),
                          "p_name": [f"part {i}" for i in range(n)],
                          "p_brand": rng.choice(["Brand#1", "Brand#2"], n),
                          "p_type": rng.choice(["STEEL", "BRASS"], n),
                          "p_size": rng.integers(1, 50, n).astype(np.int32),
                          "p_retailprice": np.round(rng.uniform(900, 2000, n), 2)}),
        "orders": _table({"o_orderkey": np.arange(n, dtype=np.int64),
                            "o_custkey": rng.integers(0, n, n).astype(np.int64),
                            "o_orderstatus": rng.choice(["O", "F"], n),
                            "o_totalprice": np.round(rng.uniform(100, 9999, n), 2),
                            "o_orderdate": pa.array(T0_US + rng.integers(0, 30 * DAY_US, n),
                                                    type=pa.timestamp("us")),
                            "o_orderpriority": rng.choice(["1-URGENT", "5-LOW"], n)}),
        "lineitem": _table({"l_orderkey": np.arange(n, dtype=np.int64),
                              "l_partkey": rng.integers(0, n, n).astype(np.int64),
                              "l_suppkey": rng.integers(0, n, n).astype(np.int64),
                              "l_linenumber": np.ones(n, dtype=np.int32),
                              "l_quantity": rng.integers(1, 50, n).astype(np.float64),
                              "l_extendedprice": np.round(rng.uniform(900, 9000, n), 2),
                              "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
                              "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
                              "l_returnflag": rng.choice(["A", "N", "R"], n),
                              "l_linestatus": rng.choice(["O", "F"], n),
                              "l_shipdate": pa.array(T0_US + rng.integers(0, 30 * DAY_US, n),
                                                     type=pa.timestamp("us"))}),
    }


def lake(out, seed, n_events, n_docs, n_vecs, n_users):
    """One lake snapshot directory with every table the engine loads."""
    rng = np.random.default_rng(seed)
    _write(events(rng, n_events, n_users), f"{out}/events.parquet")
    _write(corpus(rng, n_docs), f"{out}/documents.parquet")
    _write(embeddings(rng, n_vecs), f"{out}/embeddings.parquet")
    for name, t in star_schema(rng, 100).items():
        _write(t, f"{out}/{name}.parquet")


def schedule_snapshots(out, seed, n_events, n_docs, n_users, n_snapshots, tag, prefixes=10):
    """Successive lake snapshots `<tag>_<i>`: snapshot i holds the i-th of
    `n_snapshots` equal time slices of one event stream, and every
    snapshot shares the same documents table."""
    rng = np.random.default_rng(seed)
    ev = events(rng, n_events, n_users, prefixes=prefixes)
    docs = corpus(rng, n_docs)
    bounds = np.linspace(0, n_events, n_snapshots + 1).astype(int)
    dirs = []
    for i in range(n_snapshots):
        d = f"{out}/{tag}_{i}"
        _write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{d}/events.parquet")
        _write(docs, f"{d}/documents.parquet")
        dirs.append(d)
    return dirs


# ---------------------------------------------------------------- upserts

def upsert_batches(out, seed, n_batches, rows, delete_every, delete_rows):
    """Path-index batches for IndexStore.mergeOrUpload plus tombstone
    batches for deleteKeys.

    Each batch: ~60% new keys, ~35% updates drawn toward recently created
    keys (geometric distance from the newest key), ~5% in-batch repeats of
    keys already in the batch. `seq` is unique; the largest `seq` of a
    key within a batch is its winner. Batch b's rows have lastModified in
    hour b after T0. Returns the op sequence as a list of
    ("merge"|"delete", file, rows, batch index) tuples.
    """
    rng = np.random.default_rng(seed)
    ops, next_id, seq_base = [], 0, 0
    t_batch = T0_US
    for b in range(n_batches):
        n_new = int(rows * 0.60) if next_id else int(rows * 0.95)
        n_dup = int(rows * 0.05)
        n_upd = rows - n_new - n_dup
        new_ids = np.arange(next_id, next_id + n_new)
        next_id += n_new
        dist = rng.geometric(1.0 / max(1.0, next_id * 0.15), n_upd)
        upd_ids = np.clip(next_id - dist, 0, next_id - 1)
        base = np.concatenate([new_ids, upd_ids])
        dup_ids = rng.choice(base, n_dup)
        ids = np.concatenate([base, dup_ids]).astype(np.int64)
        n = len(ids)
        seq = seq_base + rng.permutation(n).astype(np.int64)
        seq_base += n
        lm = t_batch + rng.integers(0, 3600 * 1_000_000, n)
        t_batch += 3600 * 1_000_000
        fs = np.array([f"fs{i % 4}" for i in ids])
        path = np.array([f"data/part_{i % 50}/file_{i}.json" for i in ids])
        key = np.char.add(np.char.add(fs, "%2f"), np.char.replace(path, "/", "%2f"))
        payload = np.array([f"{x:016x}" * 4 for x in rng.integers(0, 2**62, n)])
        f = f"{out}/batch_{b:03d}.parquet"
        _write(_table({
            "key": key, "filesystem": fs, "path": path,
            "lastModified": pa.array(lm, type=pa.timestamp("us", tz="UTC")),
            "seq": seq, "payload": payload}), f)
        ops.append(("merge", f, n, b))
        if delete_every and (b + 1) % delete_every == 0:
            victims = rng.choice(next_id, delete_rows, replace=False)
            vfs = np.array([f"fs{i % 4}" for i in victims])
            vpath = np.char.replace(
                np.array([f"data/part_{i % 50}/file_{i}.json" for i in victims]), "/", "%2f")
            f = f"{out}/delete_{b:03d}.parquet"
            _write(_table({"key": np.char.add(np.char.add(vfs, "%2f"), vpath)}), f)
            ops.append(("delete", f, delete_rows, b))
    return ops
