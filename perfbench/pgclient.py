"""Raw PostgreSQL v3 protocol client used as the benchmark's load generator.

It frames messages itself and, unless asked to decode, only counts
DataRow/CopyData messages and their bytes: on an export the client's own
CPU must stay small next to the server's. Every call returns a `Result`;
a server error is carried in `Result.error`, and a closed socket raises
`ConnectionLost`, which the caller counts as a failed operation.
"""
import socket
import struct
import time

_I = struct.Struct("!I")
_H = struct.Struct("!H")
_i = struct.Struct("!i")

PROTOCOL_V3 = 196608
D, d, Z, T, C, E = ord("D"), ord("d"), ord("Z"), ord("T"), ord("C"), ord("E")
G, c, s = ord("G"), ord("c"), ord("s")
K = ord("K")


class ConnectionLost(Exception):
    """The server closed the connection or the socket failed mid-statement."""


class Result:
    __slots__ = ("rows", "nrows", "nbytes", "first_row", "tag", "error",
                 "oids", "names", "suspended")

    def __init__(self):
        self.rows = []          # decoded rows (text values), when asked for
        self.nrows = 0          # DataRow + CopyData messages
        self.nbytes = 0         # their bytes on the wire, headers included
        self.first_row = None   # perf_counter() at the first row message
        self.tag = None         # last CommandComplete tag
        self.error = None       # (sqlstate, message) of an ErrorResponse
        self.oids = []
        self.names = []
        self.suspended = False


def _msg(t, payload=b""):
    return bytes((t,)) + _I.pack(len(payload) + 4) + payload


def _cstr(v):
    return v.encode() + b"\0"


class Conn:
    """One client connection. Not thread-safe: one thread per connection."""

    def __init__(self, port, host="127.0.0.1", timeout=170.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()
        self.pos = 0
        self.pid = None
        body = _cstr("user") + _cstr("bench") + _cstr("database") + _cstr("main") + b"\0"
        self.sock.sendall(_I.pack(len(body) + 8) + _I.pack(PROTOCOL_V3) + body)
        res = self._until_ready(Result(), False)
        if res.error:
            raise ConnectionLost("startup refused: %s" % (res.error,))

    # ---- framing

    def _fill(self):
        if self.pos and self.pos * 2 >= len(self.buf):
            del self.buf[:self.pos]
            self.pos = 0
        try:
            chunk = self.sock.recv(1 << 20)
        except OSError as e:
            raise ConnectionLost(str(e))
        if not chunk:
            raise ConnectionLost("server closed the connection")
        self.buf += chunk

    def _until_ready(self, res, decode, stop_on=(Z,)):
        """Read messages until one whose type is in `stop_on`; returns res.
        Row messages take the short path: counted, decoded only if asked."""
        unpack = _I.unpack_from
        buf, pos = self.buf, self.pos
        n = len(buf)
        nrows = nbytes = 0
        try:
            while True:
                if n - pos >= 5:
                    end = pos + 1 + unpack(buf, pos + 1)[0]
                    if end <= n:
                        t = buf[pos]
                        if t == D or t == d:
                            if not nrows and res.first_row is None:
                                res.first_row = time.perf_counter()
                            nrows += 1
                            nbytes += end - pos
                            if decode:
                                res.rows.append(_data_row(buf, pos + 5) if t == D
                                                else bytes(buf[pos + 5:end]).decode())
                            pos = end
                            continue
                        payload = bytes(buf[pos + 5:end])
                        pos = end
                        if t == T:
                            res.names, res.oids = _row_description(payload)
                        elif t == C:
                            res.tag = payload[:-1].decode()
                        elif t == E:
                            res.error = _error_fields(payload)
                        elif t == K:
                            self.pid = _i.unpack_from(payload, 0)[0]
                        elif t == s:
                            res.suspended = True
                        if t in stop_on:
                            return res
                        continue
                self.pos = pos
                self._fill()
                buf, pos = self.buf, self.pos
                n = len(buf)
        finally:
            self.pos = pos
            res.nrows += nrows
            res.nbytes += nbytes

    # ---- statements

    def query(self, sql, decode=False):
        """Simple-protocol query (also COPY ... TO STDOUT)."""
        self.sock.sendall(_msg(ord("Q"), _cstr(sql)))
        return self._until_ready(Result(), decode)

    def extended(self, sql, params=(), result_format=0, max_rows=0, decode=False):
        """Parse/Bind/Describe/Execute/Sync as pgjdbc sends it, with text
        `$n` parameters. With `max_rows`, the portal is paged: each page is
        Execute(max_rows) + Sync until the server stops suspending it."""
        bind = _cstr("") + _cstr("") + _H.pack(1) + _H.pack(0) + _H.pack(len(params))
        for p in params:
            if p is None:
                bind += _i.pack(-1)
            else:
                v = str(p).encode()
                bind += _i.pack(len(v)) + v
        bind += _H.pack(1) + _H.pack(result_format)
        execute = _msg(ord("E"), _cstr("") + _i.pack(max_rows)) + _msg(ord("S"))
        self.sock.sendall(
            _msg(ord("P"), _cstr("") + _cstr(sql) + _H.pack(0)) +
            _msg(ord("B"), bind) + _msg(ord("D"), b"P" + _cstr("")) + execute)
        res = Result()
        while True:
            res.suspended = False
            self._until_ready(res, decode)
            if not res.suspended or res.error:
                return res
            self.sock.sendall(execute)

    def copy_in(self, sql, data, chunk=1 << 16):
        """COPY ... FROM STDIN: send `data` (bytes) as CopyData, then CopyDone."""
        self.sock.sendall(_msg(ord("Q"), _cstr(sql)))
        res = self._until_ready(Result(), False, stop_on=(G, Z))
        if res.error:  # refused before copy-in: ReadyForQuery already read
            return res
        out = [_msg(d, data[i:i + chunk]) for i in range(0, len(data), chunk)]
        self.sock.sendall(b"".join(out) + _msg(c))
        return self._until_ready(res, False)

    def close(self):
        try:
            self.sock.sendall(_msg(ord("X")))
        except OSError:
            pass
        self.sock.close()


def _data_row(buf, p):
    n = _H.unpack_from(buf, p)[0]
    p += 2
    out = []
    for _ in range(n):
        ln = _i.unpack_from(buf, p)[0]
        p += 4
        if ln < 0:
            out.append(None)
        else:
            out.append(bytes(buf[p:p + ln]).decode())
            p += ln
    return out


def _row_description(payload):
    n = _H.unpack_from(payload, 0)[0]
    p = 2
    names, oids = [], []
    for _ in range(n):
        z = payload.index(b"\0", p)
        names.append(payload[p:z].decode())
        p = z + 1
        oids.append(_i.unpack_from(payload, p + 6)[0])
        p += 18
    return names, oids


def _error_fields(payload):
    fields = {}
    p = 0
    while p < len(payload) and payload[p] != 0:
        z = payload.index(b"\0", p + 1)
        fields[chr(payload[p])] = payload[p + 1:z].decode(errors="replace")
        p = z + 1
    return fields.get("C", "?????"), fields.get("M", "")
