"""Docker log-driver plugin client: HTTP/1.1 over a unix socket, the
chunked ReadLogs body, and the framed protobuf LogEntry codec.

The codec mirrors the engine's ProtoLogCodec field for field (source=1,
time_nano=2, line=3), so the frames a ReadLogs call returns can be compared
byte for byte with the frames the generator expects.
"""
import json
import socket
import struct
import time


# ---- LogEntry codec -------------------------------------------------------

def _varint(v):
    out = bytearray()
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


_TAG_SOURCE = _varint((1 << 3) | 2)
_TAG_TIME = _varint((2 << 3) | 0)
_TAG_LINE = _varint((3 << 3) | 2)


def encode(source, time_nano, line):
    """One LogEntry message (no partial metadata)."""
    src = source.encode()
    return (_TAG_SOURCE + _varint(len(src)) + src + _TAG_TIME + _varint(time_nano)
            + _TAG_LINE + _varint(len(line)) + line)


def frame(message):
    return struct.pack(">I", len(message)) + message


def _read_varint(buf, pos):
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def decode(message):
    """(source, time_nano, line) of one LogEntry message."""
    pos, end = 0, len(message)
    source, time_nano, line = "", 0, b""
    while pos < end:
        key, pos = _read_varint(message, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(message, pos)
            if field == 2:
                time_nano = v
        elif wire == 2:
            n, pos = _read_varint(message, pos)
            v = bytes(message[pos:pos + n])
            pos += n
            if field == 1:
                source = v.decode()
            elif field == 3:
                line = v
        else:
            raise ValueError(f"wire type {wire}")
    return source, time_nano, line


def deframe(body):
    """Split concatenated frames; raises on a torn tail."""
    out, pos, n = [], 0, len(body)
    while pos < n:
        if n - pos < 4:
            raise ValueError("torn frame header")
        (ln,) = struct.unpack_from(">I", body, pos)
        if n - pos - 4 < ln:
            raise ValueError("torn frame body")
        out.append(bytes(body[pos + 4:pos + 4 + ln]))
        pos += 4 + ln
    return out


# ---- HTTP over the plugin socket -----------------------------------------

class ProtocolError(Exception):
    pass


def _connect(path, timeout):
    s = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    s.settimeout(timeout)
    s.connect(path)
    return s


def _send(s, path, body):
    data = json.dumps(body).encode()
    s.sendall(f"POST {path} HTTP/1.1\r\nHost: localhost\r\nContent-Type: application/json\r\n"
              f"Content-Length: {len(data)}\r\n\r\n".encode() + data)


def _read_head(s, buf):
    while b"\r\n\r\n" not in buf:
        chunk = s.recv(65536)
        if not chunk:
            raise ProtocolError("connection closed before headers")
        buf += chunk
    head, _, rest = bytes(buf).partition(b"\r\n\r\n")
    lines = head.decode("latin-1").split("\r\n")
    status = int(lines[0].split(" ")[1])
    headers = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        headers[k.strip().lower()] = v.strip()
    return status, headers, bytearray(rest)


def call(path, endpoint, body, timeout=120.0):
    """A plain JSON request; returns the decoded JSON response."""
    s = _connect(path, timeout)
    try:
        _send(s, endpoint, body)
        status, headers, buf = _read_head(s, bytearray())
        n = int(headers.get("content-length", "0"))
        while len(buf) < n:
            chunk = s.recv(65536)
            if not chunk:
                raise ProtocolError("truncated response body")
            buf += chunk
        if status != 200:
            raise ProtocolError(f"HTTP {status}")
        return json.loads(bytes(buf[:n]) or b"{}")
    finally:
        s.close()


class Dechunker:
    """Incremental HTTP chunked-transfer decoder feeding a frame counter.

    `feed` returns True once the terminating zero-length chunk was seen.
    `first_frame_at` is stamped (time.perf_counter) when the first complete
    frame is available; `on_frame`, when given, receives every message as
    soon as it is complete.
    """

    def __init__(self, on_frame=None, clock=time.perf_counter):
        self.buf = bytearray()
        self.payload = bytearray()
        self.want = None          # bytes left in the current chunk, None = at size line
        self.done = False
        self.first_frame_at = None
        self.frames = 0
        self._scan = 0            # payload offset of the next unparsed frame
        self.on_frame = on_frame
        self.clock = clock

    def feed(self, data):
        self.buf += data
        buf = self.buf
        pos = 0
        while not self.done:
            if self.want is None:
                eol = buf.find(b"\r\n", pos)
                if eol < 0:
                    break
                size = int(bytes(buf[pos:eol]).split(b";")[0], 16)
                pos = eol + 2
                if size == 0:
                    self.done = True
                    break
                self.want = size
            else:
                if len(buf) - pos < self.want + 2:
                    break
                self.payload += buf[pos:pos + self.want]
                if buf[pos + self.want:pos + self.want + 2] != b"\r\n":
                    raise ProtocolError("bad chunk terminator")
                pos += self.want + 2
                self.want = None
        del buf[:pos]
        self._frames()
        return self.done

    def _frames(self):
        p, n = self.payload, len(self.payload)
        while n - self._scan >= 4:
            (ln,) = struct.unpack_from(">I", p, self._scan)
            if n - self._scan - 4 < ln:
                break
            if self.first_frame_at is None:
                self.first_frame_at = self.clock()
            if self.on_frame is not None:
                self.on_frame(bytes(p[self._scan + 4:self._scan + 4 + ln]))
            self._scan += 4 + ln
            self.frames += 1
        if self.on_frame is not None and self._scan:
            del p[:self._scan]
            self._scan = 0

    def finish(self):
        if not self.done:
            raise ProtocolError("stream ended without the last chunk")
        if self._scan != len(self.payload) and self.on_frame is None:
            raise ProtocolError("torn frame at end of body")
        if self.on_frame is not None and self.payload:
            raise ProtocolError("torn frame at end of body")


def read_logs(path, container, since=None, until=None, tail=0, follow=False,
              on_frame=None, timeout=120.0, sock_out=None):
    """One ReadLogs call. Returns a dict with the body (frames concatenated,
    when no on_frame callback consumes them), the frame count and the
    client-side times: request sent → header, → first decoded frame, → end.
    """
    cfg = {"Tail": tail, "Follow": follow}
    if since:
        cfg["Since"] = since
    if until:
        cfg["Until"] = until
    body = {"Config": cfg, "Info": {"ContainerID": container}}
    s = _connect(path, timeout)
    if sock_out is not None:
        sock_out.append(s)
    try:
        t0 = time.perf_counter()
        _send(s, "/LogDriver.ReadLogs", body)
        status, headers, rest = _read_head(s, bytearray())
        t_head = time.perf_counter()
        if status != 200:
            raise ProtocolError(f"HTTP {status}")
        if headers.get("transfer-encoding", "") != "chunked":
            n = int(headers.get("content-length", "0"))
            while len(rest) < n:
                chunk = s.recv(65536)
                if not chunk:
                    break
                rest += chunk
            err = json.loads(bytes(rest[:n]) or b"{}").get("Err", "")
            raise ProtocolError(f"ReadLogs error: {err}")
        d = Dechunker(on_frame)
        done = d.feed(bytes(rest))
        while not done:
            chunk = s.recv(1 << 20)
            if not chunk:
                break
            done = d.feed(chunk)
        t_end = time.perf_counter()
        d.finish()
        return {"body": bytes(d.payload), "frames": d.frames,
                "header_ms": (t_head - t0) * 1e3,
                "first_frame_ms": None if d.first_frame_at is None else (d.first_frame_at - t0) * 1e3,
                "total_ms": (t_end - t0) * 1e3, "t0": t0, "t_end": t_end}
    finally:
        s.close()
