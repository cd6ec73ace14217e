"""Independent checks of a run's outputs, computed in DuckDB from the
generated input files (never from a stored copy of earlier output).

`run(workload, checks, facts, root)` returns a list of problems; an empty
list means every output is correct.
"""
import os
import subprocess
import sys

import duckdb


def _con():
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    return con


def _store(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _diff(con, a, b, cols):
    """Rows of a not in b plus rows of b not in a, as multisets."""
    q = f"SELECT {cols} FROM {{}}"
    return (con.sql(f"SELECT count(*) FROM ({q.format(a)} EXCEPT ALL {q.format(b)})").fetchone()[0]
            + con.sql(f"SELECT count(*) FROM ({q.format(b)} EXCEPT ALL {q.format(a)})").fetchone()[0])


# ---------------------------------------------------------------- index_upsert

def index_upsert(c, facts):
    con = _con()
    ops = facts["main"]
    parts = []
    for i, (kind, f, _, _) in enumerate(ops):
        if kind == "merge":
            parts.append(f"SELECT {i} AS op, key, filesystem, path, epoch_us(lastModified) AS lm, "
                         f"seq, payload, false AS del FROM read_parquet('{f}')")
        else:
            parts.append(f"SELECT {i} AS op, key, NULL, NULL, NULL, NULL, NULL, true "
                         f"FROM read_parquet('{f}')")
    con.sql("CREATE TABLE ev AS " + " UNION ALL ".join(parts))
    # one event per (key, op): a batch's in-batch winner is its largest seq
    con.sql("""CREATE TABLE last AS SELECT * FROM (
                 SELECT *, row_number() OVER (PARTITION BY key, op ORDER BY seq DESC) AS rn FROM ev)
               WHERE rn = 1""")
    con.sql("""CREATE TABLE hist AS SELECT op, key, del,
                 lag(op) OVER (PARTITION BY key ORDER BY op) AS prev_op,
                 lag(del) OVER (PARTITION BY key ORDER BY op) AS prev_del FROM last""")

    def live_after(i):
        return f"""(SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY key ORDER BY op DESC) AS r
                    FROM last WHERE op <= {i}) WHERE r = 1 AND NOT del)"""

    problems = []
    # MergeResult / deleteKeys counts against the replayed history
    counts = dict(((op, (cr, mo))) for op, cr, mo in con.sql("""
        SELECT op, count(*) FILTER (WHERE prev_op IS NULL OR prev_del),
                   count(*) FILTER (WHERE prev_op IS NOT NULL AND NOT prev_del)
        FROM hist GROUP BY op""").fetchall())
    merges = iter(c["merges"])
    deletes = iter(c["deletes"])
    for i, (kind, f, _, _) in enumerate(ops):
        cr, mo = counts.get(i, (0, 0))
        if kind == "merge":
            m = next(merges)
            if (m["created"], m["modified"], m["failed"]) != (cr, mo, 0):
                problems.append(f"merge {i}: created/modified/failed {m['created']}/{m['modified']}/"
                                f"{m['failed']}, expected {cr}/{mo}/0")
        else:
            d = next(deletes)
            if d["deleted"] != mo:
                problems.append(f"delete {i}: deleted {d['deleted']}, expected {mo}")

    # keyset pages: strictly increasing, and together exactly the filtered live rows
    merge_ops = [i for i, op in enumerate(ops) if op[0] == "merge"]
    for i, pg in zip(merge_ops, c["pages"]):
        b = ops[i][3]
        keys = []
        with open(pg["file"]) as fh:
            for line in fh:
                if line.strip():
                    keys += line.rstrip("\n").split("\t")
        if any(x >= y for x, y in zip(keys, keys[1:])):
            problems.append(f"pages after op {i}: keys not strictly increasing")
        t_us = 1704067200 * 1_000_000 + b * 3600 * 1_000_000
        want = {k for (k,) in con.sql(
            f"SELECT key FROM {live_after(i)} WHERE filesystem = 'fs{b % 4}' AND lm >= {t_us}").fetchall()}
        if set(keys) != want or len(keys) != len(want):
            problems.append(f"pages after op {i}: {len(keys)} keys, expected {len(want)}")

    # the store: before optimize equals the replay, after optimize equals before
    cols = "key, filesystem, path, epoch_us(lastModified) AS lm, seq, payload"
    con.sql(f"CREATE TABLE want AS SELECT key, filesystem, path, lm, seq, payload "
            f"FROM {live_after(len(ops) - 1)}")
    con.sql(f"CREATE TABLE pre AS SELECT {cols} FROM {_store(c['pre_optimize'])}")
    cols2 = "key, filesystem, path, lm, seq, payload"
    if _diff(con, "want", "pre", cols2):
        problems.append("live store before optimize differs from the replayed history")
    live = f"{c['store']}/v={c['live_version']}"
    con.sql(f"CREATE TABLE post AS SELECT {cols} FROM {_store(live)}")
    if _diff(con, "pre", "post", cols2):
        problems.append("optimize changed the row set")
    n = con.sql("SELECT count(*) FROM want").fetchone()[0]
    if c["optimize_rows"] != n:
        problems.append(f"optimize reported {c['optimize_rows']} rows, expected {n}")
    if c["versions_after_compact"] != [c["live_version"]]:
        problems.append(f"compact left versions {c['versions_after_compact']}")
    return problems


# ---------------------------------------------------------------- indexer_schedule

def indexer_schedule(c, facts):
    con = _con()
    problems = []
    expect = {}
    for tick, snap in zip(c["ticks"], facts["snapshots"]):
        rows = con.sql(f"""
            SELECT p, max(epoch_us(ts)) * 1000 FROM read_parquet('{snap}/events.parquet'),
                   range(10) t(p)
            WHERE CAST(event_id % 50 AS VARCHAR) LIKE CAST(p AS VARCHAR) || '%'
            GROUP BY p""").fetchall()
        for p, ns in rows:
            expect[p] = max(expect.get(p, ns), ns)
        for part in tick["partitions"]:
            want = expect.get(part["partition"], -2**63)
            if int(part["watermark"]) != want:
                problems.append(f"{os.path.basename(snap)} partition {part['partition']}: "
                                f"watermark {part['watermark']}, expected {want}")
    last = {p["partition"]: p["watermark"] for p in c["ticks"][-1]["partitions"]}
    for part in c["rerun"]:
        moved = [k for k in ("read", "read_failed", "processed", "created", "modified",
                             "upload_failed", "too_large") if part[k]]
        if moved or part["watermark"] != last[part["partition"]]:
            problems.append(f"re-run of partition {part['partition']} was not a no-op: {moved}")
    cols = "key, doc_id, filesystem, stringvalue, numbervalue, eTag"
    n = con.sql(f"SELECT count(*) FROM {_store(c['store'])}").fetchone()[0]
    if n == 0 or _diff(con, _store(c["store"]), _store(c["reference"]), cols):
        problems.append("partitioned store differs from the unfiltered incremental store")
    return problems


# ---------------------------------------------------------------- oracles

def oracle(c, root):
    """Each key's last result against its oracle SQL, by tools/check.py."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        c["lake"], c["oracle_out"]], capture_output=True, text=True, timeout=120)
    bad = [x for x in p.stdout.splitlines() if x.strip() and ": OK (" not in x]
    if p.returncode != 0 or bad:
        return bad or [f"check.py exited {p.returncode}: {p.stderr.strip()[-300:]}"]
    return []


def run(workload, c, facts, root):
    if workload == "ingest":
        return index_upsert(c["upsert"], facts) + indexer_schedule(c["schedule"], facts)
    return oracle(c["oracle"], root)
