"""Seeded inputs: docker log lines for the driver workloads and a
TPC-H-ish fixture set for the analytics slice.

Everything here is a pure function of the seed (live lines take their
timestamps from the schedule at run time, their content from the seed).
The fixture reproduces the schema, row counts and value distributions of
the repository's sf0.01 fixture set (TESTDATA.md), one parquet row group
per table, so SparkEntry.queries and their DuckDB twins run on it
unchanged; perfbench/README.md sets the statistics of the two side by
side, as fixture_stats.py measures them.
"""
import datetime as dt
import itertools
import os
import random
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from client import encode, frame

# Log lines follow the shape of public system-log corpora. Loghub (He et
# al., arXiv:2008.06448, Table 1) lists HDFS at 11,175,629 lines in
# 1.47 GB and BGL at 4,747,963 lines in 708.76 MB: about 130-160 bytes a
# line. Its per-system logs are a few dozen to a few hundred event
# templates with variable fields (ids, addresses, sizes, durations) and a
# skewed template frequency. Here: 30 templates drawn with Zipf weights,
# each line "<container> <index> <level> [<thread>] <logger> - <message>";
# the 31-byte container and index prefix lets the follow and retention
# checks identify each line. Lines average about 135 bytes.
TEMPLATES = [
    "INFO http: {method} {path} status={status} bytes={size} dur={ms}ms remote={ip}:{port}",
    "INFO db: query ok table={table} rows={n} dur={ms}ms conn={w}",
    "DEBUG worker-{w}: job {hex} picked from queue {queue} attempt={a}",
    "INFO worker-{w}: job {hex} done in {ms}ms result=ok",
    "INFO cache: get key={hex8} hit={hit} size={size}",
    "INFO storage: received block blk_{blk} of size {size} from /{ip}",
    "INFO auth: user {user} logged in from {ip} session={hex}",
    "DEBUG http: keep-alive conn {n} reused remote={ip}:{port}",
    "INFO queue: {queue} depth={n} consumers={w} lag={ms}ms",
    "INFO health: check {check} ok latency={ms}ms",
    "INFO storage: wrote block blk_{blk} len={size} to /data/{w}/{hex8}",
    "INFO metrics: flushed {n} series to {ip}:{port} in {ms}ms",
    "WARN db: slow query table={table} rows={n} dur={ms}ms plan=seqscan",
    "DEBUG gc: pause young {ms}ms heap {n}M->{w}M",
    "INFO auth: session {hex} expired after {n}s idle",
    "INFO search: query=\"{word} {word2}\" hits={n} dur={ms}ms",
    "INFO orders: order {n} placed customer={size} items={a} total={price}",
    "INFO orders: order {n} shipped carrier={carrier} tracking={hex}",
    "WARN http: upstream {ip}:{port} timed out after {ms}ms path={path}",
    "INFO storage: deleting block blk_{blk} file /data/{w}/blk_{blk}",
    "INFO scheduler: cron {job} started run={n}",
    "INFO scheduler: cron {job} finished run={n} dur={ms}ms",
    "ERROR worker-{w}: job {hex} failed: connection reset by peer {ip}:{port}; retry in {a}s",
    "WARN auth: invalid password for user {user} from {ip} attempt={a}",
    "DEBUG tls: handshake with {ip}:{port} cipher=TLS_AES_128_GCM_SHA256 dur={ms}ms",
    "WARN health: check {check} degraded latency={ms}ms threshold=500ms",
    "ERROR http: {method} {path} status=500 err=\"{err}\" trace={hex}",
    "ERROR payments: charge {hex} declined code={code} customer={size}",
    "INFO config: reloaded {file} version={n} changed={a}",
    "INFO startup: listening on 0.0.0.0:{port} pid={n}",
]
WEIGHTS = [1.0 / (k + 1) for k in range(len(TEMPLATES))]
PATHS = ["/api/v1/items", "/api/v1/users", "/healthz", "/api/v2/orders",
         "/static/app.js", "/api/v1/search", "/metrics", "/login"]
TABLES = ["orders", "users", "items", "sessions", "payments", "events"]
QUEUES = ["default", "mail", "reports", "billing", "thumbnails"]
CHECKS = ["db", "cache", "upstream", "disk", "queue"]
USERS = [f"user{k:04d}" for k in range(200)]
JOBS = ["cleanup", "rollup", "backup", "reindex", "digest"]
ERRS = ["context deadline exceeded", "nil pointer dereference", "too many open files",
        "broken pipe", "invalid json"]
WORDS = ["red", "shoes", "winter", "jacket", "lamp", "phone", "case", "desk", "cable", "mug"]


def _u(rng, lo, hi):
    """An integer in [lo, hi): cheaper than randrange, which each line
    would otherwise call some ten times."""
    return lo + int(rng.random() * (hi - lo))


def _pick(rng, xs):
    return xs[int(rng.random() * len(xs))]


FIELDS = {
    "method": lambda rng: _pick(rng, ("GET", "GET", "GET", "POST", "PUT", "DELETE")),
    "path": lambda rng: _pick(rng, PATHS),
    "status": lambda rng: _pick(rng, (200, 200, 200, 204, 304, 404)),
    "size": lambda rng: _u(rng, 100, 200000),
    "ms": lambda rng: _u(rng, 1, 5000),
    "ip": lambda rng: f"10.{_u(rng, 0, 256)}.{_u(rng, 0, 256)}.{_u(rng, 1, 255)}",
    "port": lambda rng: _u(rng, 1024, 65536),
    "table": lambda rng: _pick(rng, TABLES),
    "n": lambda rng: _u(rng, 1, 100000),
    "w": lambda rng: _u(rng, 1, 64),
    "hex": lambda rng: f"{rng.getrandbits(64):016x}",
    "hex8": lambda rng: f"{rng.getrandbits(32):08x}",
    "queue": lambda rng: _pick(rng, QUEUES),
    "a": lambda rng: _u(rng, 1, 6),
    "hit": lambda rng: _pick(rng, ("true", "false")),
    "blk": lambda rng: rng.getrandbits(63) - 2**62,
    "user": lambda rng: _pick(rng, USERS),
    "check": lambda rng: _pick(rng, CHECKS),
    "word": lambda rng: _pick(rng, WORDS),
    "word2": lambda rng: _pick(rng, WORDS),
    "price": lambda rng: f"{_u(rng, 100, 100000) / 100:.2f}",
    "carrier": lambda rng: _pick(rng, ("ups", "dhl", "fedex")),
    "job": lambda rng: _pick(rng, JOBS),
    "err": lambda rng: _pick(rng, ERRS),
    "code": lambda rng: _u(rng, 1000, 1100),
    "file": lambda rng: _pick(rng, ("app.yaml", "routes.yaml", "flags.json")),
}
# each template as (level, logger, message format, the fields it uses)
PARSED = [(*t.split(" ", 2)[:2], t.split(" ", 2)[2],
           sorted({f for _, f, _, _ in string.Formatter().parse(t) if f}))
          for t in TEMPLATES]
CUM_WEIGHTS = list(itertools.accumulate(WEIGHTS))


def log_line(rng, container, i):
    """One log line; the container and index lead, so a line identifies
    itself in the follow and retention checks."""
    level, logger, msg, fields = rng.choices(PARSED, cum_weights=CUM_WEIGHTS)[0]
    logger = logger.rstrip(":").format(w=_u(rng, 1, 64))
    msg = msg.format(**{f: FIELDS[f](rng) for f in fields})
    thread = f"pool-{_u(rng, 1, 5)}-thread-{_u(rng, 1, 33)}"
    return f"{container} {i:09d} {level} [{thread}] com.example.{logger} - {msg}".encode()


def container_ids(seed, n):
    rng = random.Random(seed * 7919 + n)
    return [f"{rng.getrandbits(64):016x}{c:04d}" for c in range(n)]


def bulk_lines(seed, container, c, n):
    """(time_nano, line) pairs for one container of the bulk workload: n
    lines spread evenly over 36 hours from 2024-03-01T00:00Z with a seeded
    sub-step jitter, so every seed gives the same partition layout (two
    UTC dates) and only the content and exact instants vary."""
    rng = random.Random(seed * 1000003 + c)
    base = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**9
    step = 36 * 3600 * 10**9 // n
    return [(base + i * step + _u(rng, 0, step // 2), log_line(rng, container, i))
            for i in range(n)]


def live_content(seed, container, c, n):
    rng = random.Random(seed * 1000033 + c)
    return [log_line(rng, container, i) for i in range(n)]


def stored_message(time_nano, line):
    """The frame payload ReadLogs returns for a written line: the engine
    appends '\\n' and re-encodes the entry (logsqlite src/logger.rs:122-130)."""
    return encode("stdout", time_nano, line + b"\n")


def framed_stream(lines):
    return b"".join(frame(encode("stdout", t, ln)) for t, ln in lines)


# ---- analytics fixture ------------------------------------------------------

DOC_WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, int((hi - lo).astype(np.int64)) + 1, n)).astype("datetime64[us]")


# Row counts of the repository's sf0.01 fixture set (TESTDATA.md).
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000, "users": 150,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}


def fixture(seed, out_dir):
    """Write the ten fixture tables for `seed` into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pick = lambda xs, n: np.array(xs, dtype=object)[rng.integers(0, len(xs), n)]

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    n = ROWS["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n)}))
    n = ROWS["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)}))
    n = ROWS["part"]
    adj = ["small", "new", "large", "hot", "cold", "red", "blue", "old"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n), pick(noun, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)}))
    n = ROWS["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": pick(["O", "P", "F"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n), pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)}))
    n = ROWS["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["O", "F"], n),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n), pa.timestamp("us"))}))

    n = ROWS["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span, n)) + t0
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, ROWS["users"], n), pa.int64()),
        "event_type": pick(["signup", "purchase", "view", "click", "error"], n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))

    # documents: 10-99 words drawn uniformly from a 30-word vocabulary; 5%
    # are an earlier text (possibly itself a copy) with " dup" appended,
    # each text copied at most once, so no two texts are equal; doc order
    # is shuffled, so a copy's source may have a larger doc_id
    n = ROWS["documents"]
    words = np.array(DOC_WORDS, dtype=object)
    texts, copied = [], set()
    for i in range(n):
        if i > 1 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            while src in copied:
                src = int(rng.integers(0, i))
            copied.add(src)
            texts.append(texts[src] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    texts = [texts[k] for k in rng.permutation(n)]
    langs = rng.choice(["en", "zh", "de", "fr", "es"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.astype(object),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    # embeddings: isotropic unit vectors in 64 dimensions and a uniform
    # label 0-9 drawn independently of them (the sf0.01 set's same-label
    # and other-label cosines are both ~0)
    n, dim = ROWS["embeddings"], 64
    v = rng.normal(0.0, 1.0, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())}))
