"""The workloads. Each fills a Result: end-to-end figures, the per-layer
figures of a traced run, the operations attempted and failed, and the
reasons for every failure.

driver_bulk  closed loop: FIFO ingest until committed, then the read mix
             over the socket, then one max-lines retention sweep; traced
             runs then time the analytics slice.
driver_live  open loop: three containers fed on a schedule, one Follow
             ReadLogs per container, small reads on one more connection.
"""
import bisect
import datetime as dt
import itertools
import os
import random
import select
import statistics
import threading
import time

import client
import gen
import sqlite_twin

# Sizes are fixed per workload (the seed varies the content, never the size).
BULK_CONTAINERS = 4
BULK_LINES = 120000         # per container: ~7 s of timed ingest on 4 cores
BULK_WARM_LINES = 2000      # per container, ingested before the timed ingest
BULK_KEEP = BULK_LINES // 10
BULK_WARM_READS = 12        # untimed (still checked) before the timed reads
LIVE_CONTAINERS = 3
LIVE_RATE = 400             # lines/s per container
LIVE_BOOT_LINES = 400       # per container, committed and followed in set-up
LIVE_WARM_S = 5.0           # schedule head whose lag is not sampled
LIVE_READ_EVERY_S = 1.0     # small-read schedule on the extra connection

# The slice: every q_log_* query, the slow queries ROADMAP names, and one
# cheap (one-task floor class) query with an oracle twin from each family
# the named queries leave out, fixed so every run times the same work.
SLICE = [
    "q_log_count", "q_log_page", "q_log_partials", "q_log_range",
    "q_log_retention_age", "q_log_retention_both", "q_log_retention_lines",
    "q_log_seq_audit", "q_log_sqlite_export", "q_log_sqlite_roundtrip",
    "q_log_tail", "q_log_tail_range", "q_log_templates",
    "q_dedup_lsh_tuning", "q_dedup_incr_clusters", "q_text_repeat_spans",
    "q_dedup_dup_shingles", "q_rel_distinct_approx", "q_ts_sessions",
    "q_ts_range_join", "q_ts_funnel", "q_ts_rolling_actives",
    "q_curate", "q_media_metadata", "q_prep_split", "q_scalar_date",
    "q_vec_cosine_topk",
]


def pct(xs, p):
    """Nearest-rank percentile; 0 for no samples (a layer the run did not
    exercise)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def rfc3339(ns):
    secs, frac = divmod(ns, 10**9)
    return dt.datetime.fromtimestamp(secs, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S") + f".{frac:09d}Z"


class Tracer:
    """Spans kept in memory and written when the run ends. Disabled (a
    no-op) in untraced runs."""

    def __init__(self, enabled):
        self.enabled = enabled
        self.spans = []
        self._next = 0
        self._lock = threading.Lock()

    def start(self, name, parent=None, rid=None):
        if not self.enabled:
            return None
        with self._lock:
            self._next += 1
            sp = {"id": f"g{self._next}", "name": name, "parent": parent, "rid": rid,
                  "start_us": time.time_ns() // 1000, "end_us": None}
            self.spans.append(sp)
        return sp

    def end(self, sp):
        if sp is not None:
            sp["end_us"] = time.time_ns() // 1000


class Result:
    def __init__(self):
        self.metrics = {}       # end-to-end: name -> (value, unit)
        self.layers = {}        # per-layer: name -> (value, unit)
        self.report = {}        # reported, not gated: name -> (value, unit)
        self.attempted = 0
        self.failed = 0
        self.failures = []
        self.info = {}

    def op(self, ok, what=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok


# ---- shared driver helpers --------------------------------------------------

class Container:
    """One container's written lines and their expected ReadLogs bytes."""

    def __init__(self, cid, fifo):
        self.cid, self.fifo = cid, fifo
        self.times = []
        self.expected = bytearray()     # frames ReadLogs must return, in seq order
        self.offsets = [0]

    def add(self, time_nano, line):
        self.times.append(time_nano)
        self.expected += client.frame(gen.stored_message(time_nano, line))
        self.offsets.append(len(self.expected))

    def window(self, i, j):
        return bytes(self.expected[self.offsets[i]:self.offsets[j]])


def start_logging(sock, c, res, tracer):
    os.mkfifo(c.fifo)
    sp = tracer.start("StartLogging", rid=c.cid)
    t0 = time.perf_counter()
    r = client.call(sock, "/LogDriver.StartLogging",
                    {"File": c.fifo, "Info": {"ContainerID": c.cid, "Config": {}}})
    ms = (time.perf_counter() - t0) * 1e3
    tracer.end(sp)
    res.op(r.get("Err", "") == "", f"StartLogging {c.cid}: {r}")
    fd = os.open(c.fifo, os.O_WRONLY)
    os.set_blocking(fd, False)
    return fd, ms


def pump_fifos(fds, datas, tracer, parent=None, chunk=1 << 18):
    """Write each buffer to its FIFO as fast as the FIFOs accept."""
    pos = [0] * len(fds)
    pending = {fd: i for i, fd in enumerate(fds) if datas[i]}
    while pending:
        _, w, _ = select.select([], list(pending), [], 5.0)
        for fd in w:
            i = pending[fd]
            sp = tracer.start("fifo.write", parent=parent, rid=str(i))
            try:
                n = os.write(fd, datas[i][pos[i]:pos[i] + chunk])
            except BlockingIOError:
                n = 0
            tracer.end(sp)
            pos[i] += n
            if pos[i] >= len(datas[i]):
                del pending[fd]


def pump_with_pause(fds, heads, tails, tracer):
    """Write heads, pause, write tails: the pump flushes only when a read
    returns at least 100 ms after its last flush, so a burst followed by an
    idle, open FIFO stays buffered unless a short tail follows a pause."""
    pump_fifos(fds, heads, tracer)
    time.sleep(0.15)
    pump_fifos(fds, tails, tracer)


def read_checked(sock, c, res, tracer, kind, i, j, since=None, until=None, tail=0, parent=None):
    """One ReadLogs over the socket whose body must equal lines [i, j)."""
    sp = tracer.start(f"ReadLogs.{kind}", parent=parent, rid=c.cid)
    try:
        r = client.read_logs(sock, c.cid, since=since, until=until, tail=tail)
    except Exception as e:  # Err responses and broken streams are failures
        tracer.end(sp)
        res.op(False, f"{kind} {c.cid}: {e}")
        return None
    tracer.end(sp)
    if sp is not None:
        sp["frames"] = r["frames"]
    ok = r["frames"] == j - i and r["body"] == c.window(i, j)
    res.op(ok, f"{kind} {c.cid} [{i},{j}): got {r['frames']} frames, "
               f"{'content mismatch' if r['frames'] == j - i else 'count mismatch'}")
    return r if ok else None


def wait_readable(sock, conts, res, tracer, timeout=120.0):
    """Poll ReadLogs Tail=1 until each container's last written line is
    readable."""
    left = {c.cid: c for c in conts}
    deadline = time.perf_counter() + timeout
    while left and time.perf_counter() < deadline:
        for cid, c in list(left.items()):
            n = len(c.times)
            try:
                r = client.read_logs(sock, cid, tail=1)
            except client.ProtocolError:
                continue  # no batch committed yet: the pre-stream Err
            if r["body"] == c.window(n - 1, n):
                del left[cid]
        if left:
            time.sleep(0.02)
    for cid in left:
        res.op(False, f"container {cid}: last line not readable within {timeout} s")


def wait_committed(h, conts, lines, timeout=120.0):
    """Epoch ms at which the ingest batch that commits each container's
    `lines`-th line (counted from its first) ended, from the streaming
    progress events; None on timeout. Cheaper and finer than polling
    ReadLogs. (Counting from the first line, not from a start time: a
    trigger that began just before a write can still pick it up.)"""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        got, done = {}, {}
        for b in sorted(h.cmd("committed")["batches"], key=lambda b: b["end"]):
            cid = next((c.cid for c in conts if c.cid in b["source"]), None)
            if cid is None:
                continue
            got[cid] = got.get(cid, 0) + b["lines"]
            if got[cid] >= lines and cid not in done:
                done[cid] = b["end"]
        if len(done) == len(conts):
            return max(done.values())
        time.sleep(0.05)
    return None


KINDS = ("tail", "1pct", "10pct")


def small_read_plan(rng, c, n, kind):
    """A small read of the mix: Tail=100, or a Since/Until window covering
    1% or 10% of the container's first n lines at a seeded position."""
    if kind == "tail":
        return kind, n - 100, n, {"tail": 100}
    w = n // 100 if kind == "1pct" else n // 10
    i = rng.randrange(0, n - w + 1)
    return kind, i, i + w, {"since": rfc3339(c.times[i]), "until": rfc3339(c.times[i + w - 1])}


def layer_stats(h, res, since_ms, tracer, ingest=True):
    """Per-layer figures from the harness's listener snapshot; Spark jobs
    and stages become spans."""
    st = h.cmd("stats", since_ms=since_ms)
    if ingest:
        ingest_stats(res, st)
    if tracer.enabled:
        for j in st["jobs"]:
            tracer.spans.append({"id": f"job{j['id']}", "name": f"spark.job {j['id']}",
                                 "parent": j["tag"] or None, "rid": j["tag"] or None,
                                 "start_us": j["start"] * 1000,
                                 "end_us": (j["end"] if j["end"] > 0 else j["start"]) * 1000,
                                 "pid": "jvm"})
        for s in st["stages"]:
            tracer.spans.append({"id": f"stage{s['id']}.{s['attempt']}",
                                 "name": f"spark.stage {s['id']} ({s['tasks']} tasks)",
                                 "parent": f"job{s['job']}", "rid": None,
                                 "start_us": s["start"] * 1000, "end_us": s["end"] * 1000,
                                 "pid": "jvm"})
    return st


def ingest_stats(res, st):
    prog = st["progress"]
    d = lambda k: [b["durations"].get(k, 0) for b in prog]
    L = res.layers
    L["ingest.batches"] = (len(prog), "count")
    L["ingest.lines_per_batch_p50"] = (pct([b["lines"] for b in prog], 50), "lines")
    L["ingest.trigger_ms_p50"] = (pct(d("triggerExecution"), 50), "ms")
    L["ingest.trigger_ms_p99"] = (pct(d("triggerExecution"), 99), "ms")
    L["ingest.add_batch_ms_p50"] = (pct(d("addBatch"), 50), "ms")
    L["ingest.latest_offset_ms_p50"] = (pct(d("latestOffset"), 50), "ms")
    L["ingest.planning_ms_p50"] = (pct(d("queryPlanning"), 50), "ms")
    L["ingest.wal_commit_ms_p50"] = (pct(d("walCommit"), 50), "ms")
    polls = [p for p in st["follow_polls"] if p["end"] > 0]
    L["server.follow_polls"] = (len(st["follow_polls"]), "count")
    L["server.follow_poll_ms_p50"] = (pct([p["end"] - p["start"] for p in polls], 50), "ms")


def ingest_layers(h, res, c, framed_path):
    L = res.layers
    cod = h.cmd("codec", path=framed_path)
    L["codec.decode_ns_per_frame"] = (cod["decode_ns_per_frame"], "ns")
    L["codec.frame_ns_per_frame"] = (cod["frame_ns_per_frame"], "ns")
    stg = h.cmd("staging")
    L["server.pump_bursts"] = (stg["bursts"], "count")
    L["server.pump_bytes_per_burst_p50"] = (pct(stg["bytes"], 50), "bytes")
    il = h.cmd("ingest_layers", container=c.cid)
    L["ingest.decode_burst_ms"] = (pct(il["decode_burst_ms"], 50), "ms")
    L["ingest.commit_batch_ms"] = (pct(il["commit_batch_ms"], 50), "ms")


def in_process_reads(h, res, plans):
    """Traced runs only: the read mix again through Graft.readLogs in the
    harness, split into plan / first row / scan with scan file counts."""
    rr = h.cmd("reads", requests=[dict(p, kind=k) for k, p in plans])
    reads = rr["reads"]
    L = res.layers
    L["reads.plan_ms_p50"] = (pct([r["plan_ms"] for r in reads], 50), "ms")
    L["reads.first_row_ms_p50"] = (pct([r["first_row_ms"] for r in reads], 50), "ms")
    L["reads.scan_ms_p50"] = (pct([r["scan_ms"] for r in reads], 50), "ms")
    L["reads.files_read"] = (statistics.mean([r.get("files_read", 0) for r in reads]), "files")
    L["reads.files_total"] = (rr["files_total"], "files")
    returned = sum(r["rows"] for r in reads)
    scanned = sum(r.get("rows_scanned", 0) for r in reads)
    L["reads.rows_scanned_per_row_returned"] = (scanned / returned if returned else 0, "ratio")
    return reads


def gauges(h, res):
    g = h.cmd("gauges")
    res.layers["jvm.gc_ms"] = (g["gc_ms"], "ms")
    res.layers["jvm.codecache_mb"] = (g["codecache_mb"], "MB")
    res.layers["host.spin_s"] = (g["spin_s"], "s")
    res.info["host.spin_s"] = g["spin_s"]


# ---- driver_bulk --------------------------------------------------------------

def driver_bulk(h, sock, work, seed, seconds, tracer, res, check):
    marks = [("start", time.perf_counter())]
    rng = random.Random(seed)
    conts = [Container(cid, os.path.join(work, f"fifo-{i}"))
             for i, cid in enumerate(gen.container_ids(seed, BULK_CONTAINERS))]
    warm, datas = [], []
    for i, c in enumerate(conts):
        lines = gen.bulk_lines(seed, c.cid, i, BULK_LINES)
        for t, ln in lines:
            c.add(t, ln)
        warm.append((gen.framed_stream(lines[:BULK_WARM_LINES - 10]),
                     gen.framed_stream(lines[BULK_WARM_LINES - 10:BULK_WARM_LINES])))
        datas.append(gen.framed_stream(lines[BULK_WARM_LINES:]))
    framed_path = os.path.join(work, "c0.frames")
    with open(framed_path, "wb") as f:
        f.write(warm[0][0] + warm[0][1] + datas[0])

    marks.append(("generated", time.perf_counter()))
    # set-up: StartLogging for every container (part of setup_s)
    t_setup = time.perf_counter()
    fds, start_ms = [], []
    for c in conts:
        fd, ms = start_logging(sock, c, res, tracer)
        fds.append(fd)
        start_ms.append(ms)
    # a running driver ingests warm: the head of every container's log
    # goes in first, untimed, so the first timed micro-batch is not the
    # one that compiles the ingest path
    pump_with_pause(fds, [w[0] for w in warm], [w[1] for w in warm], tracer)
    res.op(wait_committed(h, conts, BULK_WARM_LINES) is not None,
           "warm-up ingest did not commit within 120 s")
    setup_extra = time.perf_counter() - t_setup
    since_ms = int(time.time() * 1000)

    # ingest: write until every line is committed, then check that every
    # container's last line is readable through ReadLogs
    sp = tracer.start("ingest")
    cpu0 = h.cpu_s()
    t_first_ms = time.time() * 1000
    pump_fifos(fds, datas, tracer, parent=sp and sp["id"])
    # the containers exit: closing the FIFO is what makes the pump flush
    # its buffered tail (it only flushes when a read returns)
    for fd in fds:
        os.close(fd)
    committed_ms = wait_committed(h, conts, BULK_LINES)
    ingest_cpu = h.cpu_s() - cpu0
    res.op(committed_ms is not None, "ingest did not commit every line within 120 s")
    ingest_s = ((committed_ms or time.time() * 1000) - t_first_ms) / 1e3
    # micro-batches of the timed ingest, lines each
    res.info["ingest_batches"] = [b["lines"] for b in h.cmd("committed")["batches"]
                                  if b["end"] >= t_first_ms]
    wait_readable(sock, conts, res, tracer)
    tracer.end(sp)
    total_lines = BULK_CONTAINERS * (BULK_LINES - BULK_WARM_LINES)
    input_bytes = sum(len(d) for d in datas) + sum(len(a) + len(b) for a, b in warm)
    table = h.cmd("table_bytes")

    marks.append(("ingested", time.perf_counter()))
    # a running driver serves reads warm: the first reads after start
    # compile the read path, so they are checked but not timed
    for k in range(BULK_WARM_READS):
        c = conts[k % BULK_CONTAINERS]
        kind, i, j, kw = small_read_plan(rng, c, BULK_LINES, KINDS[k % 3])
        read_checked(sock, c, res, tracer, kind, i, j, **kw)

    # reads: the small-read mix on an idle engine, then one 100% read each
    plans, small, first, hdr, full_frames, full_s = [], [], [], [], 0, 0.0
    sp = tracer.start("reads")
    t_reads = time.perf_counter()
    cpu0 = h.cpu_s()
    while time.perf_counter() - t_reads < seconds:
        # a fixed cycle of kinds over the containers: every run has the
        # same mix, only the window positions vary with the seed
        c = conts[len(plans) % BULK_CONTAINERS]
        kind, i, j, kw = small_read_plan(rng, c, BULK_LINES, KINDS[len(plans) % 3])
        r = read_checked(sock, c, res, tracer, kind, i, j, parent=sp and sp["id"], **kw)
        if r is not None:
            small.append(r["total_ms"])
            first.append(r["first_frame_ms"])
            hdr.append(r["header_ms"])
        plans.append((kind, dict(kw, container=c.cid, i=i, j=j)))
    reads_cpu = h.cpu_s() - cpu0
    for c in conts:
        r = read_checked(sock, c, res, tracer, "full", 0, BULK_LINES, parent=sp and sp["id"])
        if r is not None:
            full_frames += r["frames"]
            full_s += r["total_ms"] / 1e3
    reads_s = time.perf_counter() - t_reads
    marks.append(("read", time.perf_counter()))
    tracer.end(sp)

    if tracer.enabled:
        in_process_reads(h, res, plans[:12])

    # retention: one max-lines sweep, then exactly the newest lines remain
    sp = tracer.start("retention")
    ret = h.cmd("cleanup", max_lines=BULK_KEEP)
    tracer.end(sp)
    for c in conts:
        read_checked(sock, c, res, tracer, "after-retention", BULK_LINES - BULK_KEEP, BULK_LINES)
    sk = h.cmd("skipped")["skipped"]
    res.op(sk == 0, f"ingest.skipped_frames = {sk}")

    marks.append(("retained", time.perf_counter()))
    # the reference twin: same lines, same reads, in SQLite (not gated)
    twin, twin_fail = sqlite_twin.run(work, conts, plans)
    res.report.update(twin)
    for f in twin_fail:
        res.op(False, f)

    marks.append(("twin", time.perf_counter()))
    res.info["phase_s"] = {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}
    res.report.update({
        "ingest_lines_per_s": (total_lines / ingest_s, "1/s"),
        "stored_bytes_per_input_byte": (table["bytes"] / input_bytes, "ratio"),
        "read_first_frame_ms_p50": (pct(first, 50), "ms"),
        "read_small_ms_p50": (pct(small, 50), "ms"),
        "read_small_ms_p95": (pct(small, 95), "ms"),
        "read_small_samples": (len(small), "count"),
        "read_full_frames_per_s": (full_frames / full_s if full_s else 0.0, "1/s"),
        "retention_s": (ret["ms"] / 1e3, "s"),
    })
    res.metrics.update({
        "throughput_per_s": (total_lines / ingest_s, "1/s"),
        "stored_bytes_per_input_byte": (table["bytes"] / input_bytes, "ratio"),
        "cpu_ms_per_line": (ingest_cpu * 1e3 / total_lines, "ms"),
    })
    res.report["cpu.read_ms_per_call"] = (reads_cpu * 1e3 / max(1, len(plans)), "ms")
    res.info.update({"small_reads": len(small), "small_ms": sorted(small),
                     "ingest_s": ingest_s, "reads_s": reads_s, "table_files": table["files"],
                     "input_bytes": input_bytes, "retention": ret})
    L = res.layers
    L["registry.start_logging_ms"] = (statistics.median(start_ms), "ms")
    L["server.read_header_ms_p50"] = (pct(hdr, 50), "ms")
    L["ingest.files_written"] = (table["files"], "files")
    L["ingest.bytes_written"] = (table["bytes"], "bytes")
    L["ingest.skipped_frames"] = (sk, "count")
    for k in ("sweep_ms", "quiesce_ms"):
        L[f"retention.{k}"] = (ret[k], "ms")
    L["retention.dropped"] = (ret["dropped"], "count")
    L["retention.rewritten"] = (ret["rewritten"], "count")
    L["retention.bytes_rewritten"] = (ret["bytes_rewritten"], "bytes")
    if tracer.enabled:
        st = layer_stats(h, res, since_ms, tracer)
        socket_jobs(res, st, tracer)
        ingest_layers(h, res, conts[0], framed_path)
        # the analytics layers are measured here, after every driver figure
        fixture = os.path.join(work, "fixture")
        gen.fixture(seed, fixture)
        analytics_slice(h, work, tracer, res, fixture, check)
    return setup_extra


def socket_jobs(res, st, tracer):
    """Jobs and tasks per socket ReadLogs on the idle engine: the server
    runs untagged jobs; each is attributed to the read span containing its
    start (sound only while nothing else runs jobs, so bulk only)."""
    reads = [s for s in tracer.spans if s["name"].startswith("ReadLogs.") and s["end_us"]]
    reads.sort(key=lambda s: s["start_us"])
    starts = [s["start_us"] for s in reads]
    stage_tasks = {}
    for s in st["stages"]:
        stage_tasks[s["job"]] = stage_tasks.get(s["job"], 0) + s["tasks"]
    per = {}
    for j in st["jobs"]:
        if j["tag"]:
            continue
        t = j["start"] * 1000
        k = bisect.bisect_right(starts, t) - 1
        if k >= 0 and reads[k]["end_us"] >= t:
            rid = reads[k]["id"]
            per.setdefault(rid, [0, 0])
            per[rid][0] += 1
            per[rid][1] += stage_tasks.get(j["id"], 0)
            for sp in tracer.spans:
                if sp["id"] == f"job{j['id']}":
                    sp["parent"] = rid
    calls = max(1, len(reads))
    res.layers["reads.jobs_per_call"] = (sum(v[0] for v in per.values()) / calls, "jobs")
    res.layers["reads.tasks_per_call"] = (sum(v[1] for v in per.values()) / calls, "tasks")


# ---- driver_live -------------------------------------------------------------

class Follower:
    """One Follow ReadLogs connection read by the live loop: checks that the
    container's lines arrive exactly once, in order, and records the lag of
    each line from its scheduled send time."""

    def __init__(self, sock_path, c, tracer):
        self.c = c
        self.next = 0
        self.errors = []
        self.lags = []
        self.lag_due = []
        self.arrivals = []
        self.bursts = 0
        self._last_frame = 0.0
        self.sample_from_ns = None     # set when the schedule starts
        self.span = tracer.start("follow", rid=c.cid)
        self.sock = client._connect(sock_path, 30.0)
        client._send(self.sock, "/LogDriver.ReadLogs",
                     {"Config": {"Follow": True, "Tail": 0}, "Info": {"ContainerID": c.cid}})
        self.head = None
        self.buf = bytearray()
        self.dech = client.Dechunker(self._frame)
        self.sock.setblocking(False)

    def _frame(self, msg):
        now = time.time_ns()
        self.arrivals.append(now)
        if now - self._last_frame > 300_000_000:
            self.bursts += 1
        self._last_frame = now
        _, t, line = client.decode(msg)
        idx = int(line.split(b" ", 2)[1])
        if idx != self.next or self.c.window(idx, idx + 1) != client.frame(msg):
            if len(self.errors) < 5:
                self.errors.append(f"follow {self.c.cid}: got line {idx}, expected {self.next}")
            self.next = max(self.next, idx + 1)
            return
        self.next += 1
        if self.sample_from_ns is not None and t >= self.sample_from_ns:
            self.lags.append((now - t) / 1e6)
            self.lag_due.append(t)

    def on_readable(self):
        try:
            data = self.sock.recv(1 << 20)
        except BlockingIOError:
            return
        if not data:
            return
        if self.head is None:
            self.buf += data
            if b"\r\n\r\n" not in self.buf:
                return
            head, _, rest = bytes(self.buf).partition(b"\r\n\r\n")
            self.head = head
            if b"chunked" not in head:
                self.errors.append(f"follow {self.c.cid}: not a stream: {head[:80]!r} {rest[:200]!r}")
                return
            data = rest
        self.dech.feed(data)


def driver_live(h, sock, work, seed, seconds, tracer, res):
    rng = random.Random(seed + 17)
    conts = [Container(cid, os.path.join(work, f"fifo-{i}"))
             for i, cid in enumerate(gen.container_ids(seed + 1, LIVE_CONTAINERS))]
    n_sched = int(LIVE_RATE * (LIVE_WARM_S + seconds))
    content = [gen.live_content(seed, c.cid, i, LIVE_BOOT_LINES + n_sched)
               for i, c in enumerate(conts)]

    # set-up: StartLogging, then each container's first lines committed
    # and a follower attached and caught up, so the cold ingest, read and
    # follow paths are compiled before the schedule starts (a follower
    # needs a committed table anyway, as with the reference)
    t_setup = time.perf_counter()
    fds, start_ms = [], []
    for c in conts:
        fd, ms = start_logging(sock, c, res, tracer)
        fds.append(fd)
        start_ms.append(ms)
    boot_ns = time.time_ns() - 10**9
    heads, tails = [], []
    for k, c in enumerate(conts):
        boot = [(boot_ns + i * 1000, content[k][i]) for i in range(LIVE_BOOT_LINES)]
        for t, ln in boot:
            c.add(t, ln)
        heads.append(gen.framed_stream(boot[:-10]))
        tails.append(gen.framed_stream(boot[-10:]))
    pump_with_pause(fds, heads, tails, tracer)
    res.op(wait_committed(h, conts, LIVE_BOOT_LINES) is not None,
           "bootstrap lines did not commit within 120 s")
    followers = [Follower(sock, c, tracer) for c in conts]
    sockmap = {f.sock.fileno(): f for f in followers}
    deadline = time.perf_counter() + 60
    while any(f.next < LIVE_BOOT_LINES for f in followers) and time.perf_counter() < deadline:
        for fd in select.select(list(sockmap), [], [], 0.05)[0]:
            sockmap[fd].on_readable()
    setup_extra = time.perf_counter() - t_setup
    since_ms = int(time.time() * 1000)

    # Line k of container c is due at start + (k + c/3) / rate and carries
    # that instant as its timestamp; lag counts from it, for lines due
    # after the warm-up head of the schedule.
    late, small, first = [], [], []
    start_ns = time.time_ns() + 100_000_000
    end_ns = start_ns + int((LIVE_WARM_S + seconds) * 1e9)
    sample_from_ns = start_ns + int(LIVE_WARM_S * 1e9)
    for f in followers:
        f.sample_from_ns = sample_from_ns
    step = 10**9 // LIVE_RATE
    stop = threading.Event()

    def reader():
        due, kinds = time.perf_counter(), itertools.cycle(KINDS)
        while not stop.is_set():
            # a fixed schedule; a read that overruns its slot skips the
            # slots it covered instead of queueing them
            due += LIVE_READ_EVERY_S
            time.sleep(max(0.0, due - time.perf_counter()))
            due = max(due, time.perf_counter())
            if stop.is_set():
                break
            k = rng.randrange(LIVE_CONTAINERS)
            c = conts[k]
            t_issued = time.time_ns()
            # lines a follower has received are committed: reads cover those
            n = followers[k].next
            kind, i, j, kw = small_read_plan(rng, c, n, next(kinds))
            if kind == "tail":
                r = live_tail(sock, c, n, res, tracer)
            else:
                r = read_checked(sock, c, res, tracer, kind, i, j, **kw)
            # reads issued during the warm-up head are checked, not sampled
            if r is not None and t_issued >= sample_from_ns:
                small.append(r["total_ms"])
                first.append(r["first_frame_ms"])

    th = threading.Thread(target=reader, daemon=True)
    th.start()
    # the generator loop: scheduled FIFO writes, and the follow streams
    pending = [bytearray() for _ in conts]
    nxt = [0] * LIVE_CONTAINERS
    written_bytes = 0
    cpu_window = [None, None]
    while True:
        now = time.time_ns()
        for k, c in enumerate(conts):
            while nxt[k] < n_sched:
                due = start_ns + (nxt[k] * 3 + k) * step // 3
                if due > now:
                    break
                line = content[k][LIVE_BOOT_LINES + nxt[k]]
                c.add(due, line)
                framed = client.frame(client.encode("stdout", due, line))
                written_bytes += len(framed)
                pending[k] += framed
                late.append((now - due) / 1e6)
                nxt[k] += 1
            if pending[k] and fds:
                try:
                    del pending[k][:os.write(fds[k], pending[k])]
                except BlockingIOError:
                    pass
        done_writing = all(x >= n_sched for x in nxt) and not any(pending)
        if done_writing and fds:
            # the containers exit: the pump flushes its buffered tail on EOF
            for fd in fds:
                os.close(fd)
            fds = []
            stop.set()
        if done_writing and (all(f.next >= len(f.c.times) for f in followers)
                             or now > end_ns + 30 * 10**9):
            break
        if cpu_window[0] is None and now >= sample_from_ns:
            cpu_window[0] = h.cpu_s()
        if cpu_window[1] is None and now >= end_ns:
            cpu_window[1] = h.cpu_s()
        ready, _, _ = select.select(list(sockmap), [], [], 0.002)
        for fd in ready:
            sockmap[fd].on_readable()
    drained_ns = time.time_ns()
    if cpu_window[1] is None:
        cpu_window[1] = h.cpu_s()
    stop.set()
    th.join()
    for f in followers:
        tracer.end(f.span)
        f.sock.close()

    lags = [x for f in followers for x in f.lags]
    for f in followers:
        res.op(not f.errors and f.next == len(f.c.times),
               f"follow {f.c.cid}: {f.next}/{len(f.c.times)} lines; {f.errors[:2]}")
    sk = h.cmd("skipped")["skipped"]
    res.op(sk == 0, f"ingest.skipped_frames = {sk}")
    table = h.cmd("table_bytes")
    input_bytes = sum(len(b) for b in heads + tails) + written_bytes
    res.report.update({
        "stored_bytes_per_input_byte": (table["bytes"] / input_bytes, "ratio"),
        "follow_lag_ms_p50": (pct(lags, 50), "ms"),
        "follow_lag_ms_p99": (pct(lags, 99), "ms"),
        "read_first_frame_ms_p50": (pct(first, 50), "ms"),
        "read_small_ms_p50": (pct(small, 50), "ms"),
        "read_small_ms_p95": (pct(small, 95), "ms"),
        "read_small_samples": (len(small), "count"),
    })
    res.report["follow_lag_ms_p95"] = (pct(lags, 95), "ms")
    sent = sum(nxt)
    last_arrival = max(f.arrivals[-1] for f in followers if f.arrivals)
    window_s = (end_ns - sample_from_ns) / 1e9
    window_lines = LIVE_RATE * LIVE_CONTAINERS * window_s
    res.metrics.update({
        "stored_bytes_per_input_byte": (table["bytes"] / input_bytes, "ratio"),
        # the scheduled lines over the seconds from the schedule's start to
        # the last of them reaching its follower: at most the offered rate,
        # less the final follow lag, and lower when the engine falls behind
        "throughput_per_s": (sent / ((last_arrival - start_ns) / 1e9), "1/s"),
        # harness CPU over the sampled window per line sent in it
        "cpu_ms_per_line": ((cpu_window[1] - cpu_window[0]) * 1e3 / window_lines, "ms"),
    })
    seg = {}
    for f in followers:
        for t, lag in zip(f.lag_due, f.lags):
            seg.setdefault(int((t - sample_from_ns) // 5e9), []).append(lag)
    res.info["lag_p50_by_5s"] = {k: round(pct(v, 50)) for k, v in sorted(seg.items())}
    res.report["cpu.cores_busy"] = ((cpu_window[1] - cpu_window[0]) / window_s, "cores")
    res.info.update({"small_reads": len(small), "lag_samples": len(lags),
                     "drain_s": (drained_ns - end_ns) / 1e9})
    L = res.layers
    L["registry.start_logging_ms"] = (statistics.median(start_ms), "ms")
    L["gen.late_ms_p99"] = (pct(late, 99), "ms")
    L["gen.lines_sent"] = (sent, "lines")
    L["ingest.skipped_frames"] = (sk, "count")
    L["ingest.files_written"] = (table["files"], "files")
    L["ingest.bytes_written"] = (table["bytes"], "bytes")
    if tracer.enabled:
        st = layer_stats(h, res, since_ms, tracer)
        polls = res.layers["server.follow_polls"][0]
        bursts = sum(max(0, f.bursts - 1) for f in followers)
        L["server.follow_useful_poll_frac"] = (bursts / polls if polls else 0.0, "ratio")
        stg = h.cmd("staging")
        L["server.pump_bursts"] = (stg["bursts"], "count")
        L["server.pump_bytes_per_burst_p50"] = (pct(stg["bytes"], 50), "bytes")
    return setup_extra


def live_tail(sock, c, settled_n, res, tracer):
    """Tail=100 while lines keep arriving: the answer must be 100
    consecutive lines ending at or after the committed horizon."""
    sp = tracer.start("ReadLogs.tail", rid=c.cid)
    try:
        r = client.read_logs(sock, c.cid, tail=100)
    except Exception as e:
        tracer.end(sp)
        res.op(False, f"live tail {c.cid}: {e}")
        return None
    tracer.end(sp)
    frames = client.deframe(r["body"])
    ok = len(frames) == 100
    if ok:
        last = int(client.decode(frames[-1])[2].split(b" ", 2)[1]) + 1
        ok = last >= settled_n and c.window(last - 100, last) == r["body"]
    res.op(ok, f"live tail {c.cid}: {len(frames)} frames")
    return r if ok else None


# ---- analytics_slice ----------------------------------------------------------

def analytics_slice(h, work, tracer, res, fixture_dir, check):
    """The analytics slice, in traced driver_bulk runs: a session warm-up,
    then one pass in which every query runs for the first time (its
    codegen, JIT and memo builds count, as in a freshly started driver),
    timed build → plan → execute. Results are checked against the DuckDB
    twins after the pass."""
    out = os.path.join(work, "slice-out")
    h.cmd("warmup", dir=fixture_dir)
    since_ms = int(time.time() * 1000)
    sp = tracer.start("slice")
    timed = h.cmd("slice", dir=fixture_dir, names=SLICE, out=out)
    tracer.end(sp)
    for name, err in timed["errors"].items():
        res.op(False, f"{name}: {err}")
    samples = timed["samples"]
    verdicts = check(fixture_dir, out)
    for name in SLICE:
        res.op(verdicts.get(name) == "PASS", f"{name}: oracle {verdicts.get(name, 'missing')}")
    times = [s["total_ms"] for s in samples]
    res.report.update({
        "analytics_suite_s": (sum(times) / 1e3, "s"),
        "analytics_query_p50_s": (statistics.median(times) / 1e3 if times else 0.0, "s"),
    })
    res.info["slice_ms"] = {s["name"]: s["total_ms"] for s in samples}
    for s in samples:
        tracer.spans.append({"id": s["tag"], "name": f"query {s['name']}",
                             "parent": sp and sp["id"], "rid": s["tag"],
                             "start_us": s["start_ms"] * 1000, "end_us": s["end_ms"] * 1000,
                             "pid": "jvm"})
        t = s["start_ms"] * 1000
        for part in ("build", "plan", "exec"):
            d = s[f"{part}_ms"] * 1000
            tracer.spans.append({"id": f"{s['tag']}:{part}", "name": part, "parent": s["tag"],
                                 "rid": s["tag"], "start_us": t, "end_us": t + d, "pid": "jvm"})
            t += d
    st = layer_stats(h, res, since_ms, tracer, ingest=False)
    slice_layers(res, st, samples, timed["scan_files"])


def slice_layers(res, st, samples, scan_files):
    tags = {s["tag"]: s for s in samples}
    jobs = {}
    for j in st["jobs"]:
        if j["tag"] in tags:
            jobs[j["id"]] = j["tag"]
    per = {t: {"jobs": 0, "stages": 0, "tasks": 0, "max_tasks": 0, "run": 0, "cpu": 0,
               "sr": 0, "sw": 0, "spill": 0} for t in tags}
    for j, t in jobs.items():
        per[t]["jobs"] += 1
    for s in st["stages"]:
        t = jobs.get(s["job"])
        if t is None:
            continue
        p = per[t]
        p["stages"] += 1
        p["tasks"] += s["tasks"]
        p["max_tasks"] = max(p["max_tasks"], s["tasks"])
        p["run"] += s["run_ms"]
        p["cpu"] += s["cpu_ms"]
        p["sr"] += s["shuffle_read"]
        p["sw"] += s["shuffle_write"]
        p["spill"] += s["spill"]
    n = max(1, len(per))
    avg = lambda k: sum(p[k] for p in per.values()) / n
    L = res.layers
    L["query.build_ms"] = (pct([s["build_ms"] for s in samples], 50), "ms")
    L["query.plan_ms"] = (pct([s["plan_ms"] for s in samples], 50), "ms")
    L["query.exec_ms"] = (pct([s["exec_ms"] for s in samples], 50), "ms")
    L["query.jobs"] = (avg("jobs"), "jobs")
    L["query.stages"] = (avg("stages"), "stages")
    L["query.tasks"] = (avg("tasks"), "tasks")
    L["query.one_task_queries"] = (sum(1 for p in per.values() if p["max_tasks"] <= 1) / n, "ratio")
    L["query.task_ms"] = (avg("run"), "ms")
    L["query.task_cpu_ms"] = (avg("cpu"), "ms")
    L["query.shuffle_read_bytes"] = (avg("sr"), "bytes")
    L["query.shuffle_write_bytes"] = (avg("sw"), "bytes")
    L["query.spill_bytes"] = (avg("spill"), "bytes")
    L["query.scan_files"] = (sum(scan_files.get(t, 0) for t in tags) / n, "files")
    memo = [s for s in st["stages"] if s["memo"]]
    L["cache.memo_build_ms"] = (sum(s["end"] - s["start"] for s in memo), "ms")
