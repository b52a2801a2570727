"""Reference twin: the same generated lines in the reference's own storage,
one SQLite database per container with `logs(ts NUMBER, message BLOB)` and
`idx_ts` (logsqlite src/logger.rs:146-147), committed 10k lines per
transaction (its max_lines_per_tx), and the driver workload's read mix as
SQL. Its figures are reference numbers for the report, not gated metrics:
they measure a different program.
"""
import os
import sqlite3
import time

import client

LINES_PER_TX = 10000


def run(work, conts, plans):
    """Load every container, replay `plans` (kind, i, j, kwargs) per
    container and the full read; returns (figures, failures)."""
    fail = []
    dbs = {}
    n_lines = 0
    t0 = time.perf_counter()
    for c in conts:
        path = os.path.join(work, f"sqlite-{c.cid}.db")
        con = sqlite3.connect(path, isolation_level=None)
        con.execute("CREATE TABLE IF NOT EXISTS logs (ts NUMBER, message BLOB)")
        con.execute("CREATE INDEX IF NOT EXISTS idx_ts ON logs(ts)")
        rows = [(t, c.window(i, i + 1)[4:]) for i, t in enumerate(c.times)]
        for k in range(0, len(rows), LINES_PER_TX):
            con.execute("BEGIN")
            con.executemany("INSERT INTO logs (ts, message) VALUES (?, ?)",
                            rows[k:k + LINES_PER_TX])
            con.execute("END")
        n_lines += len(rows)
        dbs[c.cid] = con
    ingest_s = time.perf_counter() - t0

    def read(con, sql, args, expect):
        t = time.perf_counter()
        body = b"".join(client.frame(m) for (m,) in con.execute(sql, args))
        ms = (time.perf_counter() - t) * 1e3
        if body != expect:
            fail.append(f"sqlite {sql[:40]}: content mismatch")
        return ms

    by_cid = {c.cid: c for c in conts}
    small = []
    for kind, kw in plans:
        c = by_cid[kw["container"]]
        con = dbs[c.cid]
        n = len(c.times)
        if kind == "tail":
            small.append(read(con, "SELECT message FROM (SELECT rowid AS r, message FROM logs "
                                   "ORDER BY rowid DESC LIMIT 100) ORDER BY r", (),
                              c.window(n - 100, n)))
        else:
            i, j = kw["i"], kw["j"]
            small.append(read(con, "SELECT message FROM logs WHERE ts >= ? AND ts <= ? "
                                   "ORDER BY rowid", (c.times[i], c.times[j - 1]),
                              c.window(i, j)))
    full_s, full_frames = 0.0, 0
    for c in conts:
        full_s += read(dbs[c.cid], "SELECT message FROM logs ORDER BY rowid", (),
                       c.window(0, len(c.times))) / 1e3
        full_frames += len(c.times)
    for con in dbs.values():
        con.close()
    small.sort()
    return {
        "sqlite.ingest_lines_per_s": (n_lines / ingest_s, "1/s"),
        "sqlite.read_small_ms_p50": (small[len(small) // 2] if small else 0.0, "ms"),
        "sqlite.read_full_frames_per_s": (full_frames / full_s if full_s else 0.0, "1/s"),
    }, fail
