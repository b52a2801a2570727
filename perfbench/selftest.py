#!/usr/bin/env python3
"""Self-test of the benchmark's own machinery; needs no build and no JVM.

  python3 perfbench/selftest.py

- the ReadLogs client: chunked decoding and deframing under every split
  of the body, torn tails rejected, and the first-frame timer stopping at
  the first complete decoded frame, not at the response header (the
  server writes the 200 and the chunked header before its Spark job
  starts);
- the LogEntry codec round trip;
- determinism: the same seed gives byte-identical inputs (bulk lines,
  live lines, the fixture set), another seed gives different ones.
"""
import hashlib
import os
import random
import shutil
import socket
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import client  # noqa: E402
import gen  # noqa: E402


def chunked(frames, sizes):
    """A chunked body carrying the concatenated frames cut at `sizes`."""
    body = b"".join(client.frame(m) for m in frames)
    out, pos = b"", 0
    for n in sizes:
        piece = body[pos:pos + n]
        if piece:
            out += f"{len(piece):x}\r\n".encode() + piece + b"\r\n"
        pos += n
    if pos < len(body):
        out += f"{len(body) - pos:x}\r\n".encode() + body[pos:] + b"\r\n"
    return body, out + b"0\r\n\r\n"


def test_dechunk_every_split():
    rng = random.Random(7)
    msgs = [client.encode("stdout", 10**18 + i, bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300))))
            for i in range(50)]
    for trial in range(40):
        sizes = [rng.randrange(1, 400) for _ in range(60)]
        body, wire = chunked(msgs, sizes)
        seen = []
        for cb in (None, seen.append):
            d = client.Dechunker(cb)
            pos = 0
            while pos < len(wire):
                step = rng.randrange(1, 64)
                d.feed(wire[pos:pos + step])
                pos += step
            d.finish()
            assert d.frames == len(msgs), (d.frames, len(msgs))
            if cb is None:
                assert bytes(d.payload) == body
                assert client.deframe(bytes(d.payload)) == msgs
        assert seen == msgs


def test_torn_tail_rejected():
    body = client.frame(b"abcdef")[:-2]
    try:
        client.deframe(body)
    except ValueError:
        pass
    else:
        raise AssertionError("torn frame accepted")
    d = client.Dechunker()
    d.feed(f"{len(body):x}\r\n".encode() + body + b"\r\n0\r\n\r\n")
    try:
        d.finish()
    except client.ProtocolError:
        pass
    else:
        raise AssertionError("torn body accepted")


def test_first_frame_clock():
    """The timer stamps when a frame completes, not when bytes or a chunk
    arrive: here the frame spans two chunks and arrives over three feeds."""
    ticks = iter(range(1, 100))
    d = client.Dechunker(clock=lambda: next(ticks))
    frame = client.frame(client.encode("stdout", 5, b"hello"))
    head, tail = frame[:6], frame[6:]
    d.feed(f"{len(head):x}\r\n".encode() + head[:3])
    assert d.first_frame_at is None
    d.feed(head[3:] + b"\r\n")
    assert d.first_frame_at is None and d.frames == 0
    d.feed(f"{len(tail):x}\r\n".encode() + tail + b"\r\n")
    assert d.first_frame_at == 1 and d.frames == 1


def test_first_frame_after_header(tmp):
    """A server that sends its header at once and the first frame 300 ms
    later: header_ms stays small, first_frame_ms covers the wait."""
    path = os.path.join(tmp, "fake.sock")
    srv = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    srv.bind(path)
    srv.listen(1)
    frame = client.frame(client.encode("stdout", 9, b"late line"))

    def serve():
        conn, _ = srv.accept()
        conn.recv(65536)
        conn.sendall(b"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
                     b"Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n")
        time.sleep(0.3)
        conn.sendall(f"{len(frame):x}\r\n".encode() + frame + b"\r\n0\r\n\r\n")
        conn.close()

    t = threading.Thread(target=serve)
    t.start()
    r = client.read_logs(path, "c", tail=1)
    t.join()
    srv.close()
    assert r["frames"] == 1 and r["body"] == frame
    assert r["header_ms"] < 200, r
    assert r["first_frame_ms"] >= 290, r


def test_codec_roundtrip():
    for t in (0, 1, 2**63 - 1, 1700000000123456789):
        for line in (b"", b"x", bytes(range(256)) * 3):
            m = client.encode("stderr", t, line)
            assert client.decode(m) == ("stderr", t, line)


def digest_dir(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_inputs(tmp):
    def inputs(seed):
        h = hashlib.sha256()
        for c, cid in enumerate(gen.container_ids(seed, 4)):
            h.update(gen.framed_stream(gen.bulk_lines(seed, cid, c, 2000)))
            h.update(b"".join(gen.live_content(seed, cid, c, 500)))
        d = os.path.join(tmp, f"fixture-{seed}-{len(os.listdir(tmp))}")
        gen.fixture(seed, d)
        return h.hexdigest(), digest_dir(d)

    a, b, c = inputs(11), inputs(11), inputs(12)
    assert a == b, "same seed gave different inputs"
    assert a[0] != c[0] and a[1] != c[1], "another seed gave the same inputs"


def main():
    base = os.path.join(os.path.dirname(HERE), os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
        for name, f in tests:
            f(tmp) if f.__code__.co_argcount else f()
            print(f"ok   {name}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(tests)} passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
