"""HTTP clients for live_tail: open-loop unary appends, one SSE tail
session and bounded S2S-proto catch-up reads. All times are
`time.perf_counter()` seconds."""
import base64
import http.client
import json
import queue
import socket
import threading
import time

from stats import ChainVerifier

BASIN_HEADER = "s2-basin"


def metered(body):
    """Metered size of a header-less record (8 + body bytes)."""
    return 8 + len(body)


def encode_batch(bodies):
    return json.dumps({"records": [{"body": base64.b64encode(b).decode()}
                                   for b in bodies]}).encode()


def open_loop(host, port, path, payloads, dues, headers, on_due=None):
    """Sends payload k at time dues[k] whether or not earlier requests
    have finished: a dispatcher queues each one at its due time and one
    keep-alive connection drains the queue, so a request due while the
    previous one is in flight waits, and that wait counts. Returns one
    dict per request with due/send/done times, HTTP status and body.
    `on_due(k, results)` runs on the dispatcher just before payload k is
    queued; `results` holds None for requests not yet answered."""
    work = queue.Queue()
    results = [None] * len(payloads)

    def writer():
        conn = http.client.HTTPConnection(host, port, timeout=60)
        while True:
            k = work.get()
            if k is None:
                break
            due = dues[k]
            sent = time.perf_counter()
            try:
                conn.request("POST", path, body=payloads[k], headers=headers)
                resp = conn.getresponse()
                body = resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException) as e:
                body, status = str(e).encode(), -1
                conn.close()
                conn = http.client.HTTPConnection(host, port, timeout=60)
            results[k] = {"due": due, "sent": sent, "done": time.perf_counter(),
                          "status": status, "body": body}
        conn.close()

    thread = threading.Thread(target=writer, daemon=True)
    thread.start()
    for k in range(len(payloads)):
        delay = dues[k] - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        if on_due:
            on_due(k, results)
        work.put(k)
    work.put(None)
    thread.join()
    return results


class SseTail(threading.Thread):
    """Follows a stream from seq 0 over SSE until `count` records have
    arrived (the server then ends the session) or `stop()` is called.
    Records each record's arrival time and folds the chain."""

    def __init__(self, host, port, stream, basin, count):
        super().__init__(daemon=True)
        self.host, self.port = host, port
        self.path = f"/v1/streams/{stream}/records?seq_num=0&count={count}&wait=60"
        self.headers = {"Accept": "text/event-stream", BASIN_HEADER: basin,
                        "s2-format": "base64"}
        self.arrivals = {}
        self.events = []          # (time, records) per batch event
        self.chain = ChainVerifier()
        self.errors = []
        self.opened = threading.Event()
        self.conn = None

    def run(self):
        try:
            self.conn = http.client.HTTPConnection(self.host, self.port)
            self.conn.request("GET", self.path, headers=self.headers)
            resp = self.conn.getresponse()
            self.opened.set()
            if resp.status != 200:
                self.errors.append(f"SSE status {resp.status}")
                return
            event, data = None, []
            while True:
                line = resp.readline()
                if not line:
                    return
                line = line.decode().rstrip("\r\n")
                if line:
                    field, _, value = line.partition(":")
                    if field == "event":
                        event = value.strip()
                    elif field == "data":
                        data.append(value[1:] if value.startswith(" ") else value)
                    continue
                if data == ["[DONE]"]:
                    return
                if event == "batch":
                    self._batch(time.perf_counter(), json.loads("\n".join(data)))
                elif event == "error":
                    self.errors.append("\n".join(data))
                event, data = None, []
        except (OSError, http.client.HTTPException, ValueError) as e:
            if self.conn is not None and self.conn.sock is not None:
                self.errors.append(f"SSE: {e}")
        finally:
            self.opened.set()

    def _batch(self, t, obj):
        recs = obj.get("records", [])
        for r in recs:
            body = base64.b64decode(r.get("body", ""))
            self.arrivals[r["seq_num"]] = t
            self.chain.add(r["seq_num"], body)
        self.events.append((t, len(recs)))

    def stop(self):
        conn = self.conn
        if conn is not None and conn.sock is not None:
            sock = conn.sock
            conn.sock = None
            try:
                sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            sock.close()


def _varint(b, i):
    x = shift = 0
    while True:
        c = b[i]
        i += 1
        x |= (c & 0x7F) << shift
        shift += 7
        if c < 0x80:
            return x, i


def _fields(b):
    i = 0
    while i < len(b):
        tag, i = _varint(b, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = _varint(b, i)
        elif wire == 2:
            n, i = _varint(b, i)
            v, i = b[i:i + n], i + n
        elif wire == 1:
            v, i = b[i:i + 8], i + 8
        elif wire == 5:
            v, i = b[i:i + 4], i + 4
        else:
            raise ValueError(f"wire type {wire}")
        yield field, v


def read_batch_records(payload):
    """(seq_num, body) of each record in a protobuf
    ReadBatch { repeated SequencedRecord records = 1; ... }."""
    out = []
    for field, v in _fields(payload):
        if field != 1:
            continue
        seq, body = 0, b""
        for f2, v2 in _fields(v):
            if f2 == 1:
                seq = v2
            elif f2 == 4:
                body = bytes(v2)
        out.append((seq, body))
    return out


def _read_exact(resp, n):
    buf = b""
    while len(buf) < n:
        chunk = resp.read(n - len(buf))
        if not chunk:
            break
        buf += chunk
    return buf


def s2s_read(host, port, stream, basin, start, count):
    """One bounded S2S-proto read session of `count` records from seq
    `start`; returns the (seq_num, body) records that arrived, and any
    error."""
    out = []
    conn = http.client.HTTPConnection(host, port, timeout=60)
    try:
        conn.request("GET", f"/v1/streams/{stream}/records?seq_num={start}&count={count}",
                     headers={"Content-Type": "s2s/proto", BASIN_HEADER: basin})
        resp = conn.getresponse()
        if resp.status != 200:
            return out, f"S2S status {resp.status}"
        while True:
            hdr = _read_exact(resp, 3)
            if not hdr:
                return out, None
            frame = _read_exact(resp, int.from_bytes(hdr, "big"))
            flags = frame[0]
            if flags & 0x80:
                return out, f"S2S terminal frame: {frame[3:].decode(errors='replace')}"
            if (flags >> 5) & 3:
                return out, "S2S frame compressed without negotiation"
            out += read_batch_records(frame[1:])
    except (OSError, http.client.HTTPException, ValueError, IndexError) as e:
        return out, f"S2S: {e}"
    finally:
        conn.close()


def scrape_ack_latency(host, port):
    """(sum seconds, count) of the server's append ack-latency histogram."""
    conn = http.client.HTTPConnection(host, port, timeout=10)
    try:
        conn.request("GET", "/metrics")
        text = conn.getresponse().read().decode()
    finally:
        conn.close()
    vals = {}
    for line in text.splitlines():
        name, _, v = line.partition(" ")
        if name in ("s2_append_ack_latency_seconds_sum",
                    "s2_append_ack_latency_seconds_count"):
            vals[name] = float(v)
    return (vals["s2_append_ack_latency_seconds_sum"],
            vals["s2_append_ack_latency_seconds_count"])
