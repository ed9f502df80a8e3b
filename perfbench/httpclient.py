"""A raw HTTP/1.1 client that times a chunked JSON-array response.

The program answers `/search` and `/pipeline` with a chunked array whose
first element is the pioneer `{"type":"pioneer"}`. The client reads the
chunk framing itself so it can see when the first byte after the pioneer
arrives and how many chunks the server sent.
"""
import socket
import time

PIONEER_PREFIX = b'[{"type":"pioneer"}'
clock = time.perf_counter


class Response:
    """Timings are `clock()` readings; `error` is None for a well-framed reply."""

    def __init__(self):
        self.status = 0
        self.t_send = self.t_header = self.t_first = self.t_end = None
        self.chunks = 0
        self.body = b""
        self.error = None


def read_response(f, r):
    """Read one HTTP response from the binary file `f` into `r`."""
    status = f.readline()
    parts = status.split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad status line {status[:80]!r}")
    r.status = int(parts[1])
    headers = {}
    while True:
        line = f.readline()
        if line in (b"\r\n", b"\n", b""):
            break
        k, _, v = line.partition(b":")
        headers[k.strip().lower()] = v.strip().lower()
    r.t_header = clock()
    if headers.get(b"transfer-encoding") == b"chunked":
        body = []
        seen = 0
        first_after = len(PIONEER_PREFIX)
        while True:
            size_line = f.readline()
            if not size_line:
                raise ValueError("connection closed inside the chunked body")
            size = int(size_line.split(b";", 1)[0], 16)
            if size == 0:
                f.readline()  # CRLF after the last chunk (no trailers)
                r.t_end = clock()
                break
            data = f.read(size)
            if len(data) != size or f.read(2) != b"\r\n":
                raise ValueError("truncated chunk")
            body.append(data)
            r.chunks += 1
            seen += size
            if r.t_first is None and seen > first_after:
                r.t_first = clock()
        r.body = b"".join(body)
    else:
        n = int(headers.get(b"content-length", b"0"))
        r.body = f.read(n)
        r.t_end = clock()
    if r.t_first is None:
        r.t_first = r.t_end


def get(port, path, timeout=170.0):
    """Send `GET path` to the loopback port and read the whole response."""
    r = Response()
    r.t_send = clock()
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=timeout) as s:
            s.sendall(f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
                      "Connection: close\r\n\r\n".encode())
            with s.makefile("rb", buffering=1 << 20) as f:
                read_response(f, r)
    except (OSError, ValueError) as e:
        r.error = f"{type(e).__name__}: {e}"
        r.t_end = r.t_first = clock()
    if r.error is None and r.status != 200:
        r.error = f"HTTP {r.status}: {r.body[:200]!r}"
    return r


class ArraySplitter:
    """Splits a streamed JSON array into its top-level elements.

    `feed(text)` returns the elements completed by `text`, as strings.
    String literals and escapes are tracked, so braces inside values and
    chunk boundaries in the middle of a string or escape are handled.
    """

    def __init__(self):
        self.depth = 0
        self.in_str = False
        self.esc = False
        self.cur = []
        self.closed = False

    def feed(self, text):
        done = []
        for ch in text:
            if self.depth >= 2:
                self.cur.append(ch)
            if self.in_str:
                if self.esc:
                    self.esc = False
                elif ch == "\\":
                    self.esc = True
                elif ch == '"':
                    self.in_str = False
            elif ch == '"':
                self.in_str = True
            elif ch in "[{":
                self.depth += 1
                if self.depth == 2:
                    self.cur = [ch]
            elif ch in "]}":
                self.depth -= 1
                if self.depth == 1:
                    done.append("".join(self.cur))
                    self.cur = []
                elif self.depth == 0:
                    self.closed = True
        return done
