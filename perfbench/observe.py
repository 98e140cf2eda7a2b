"""Outside observers of an engine process: its JSON log, its StatsD
datagrams, the files it leaves behind and its peak resident memory."""
import collections
import json
import os
import socket
import threading
from datetime import datetime


def ts_epoch(ts):
    """`2026-01-02T03:04:05.123456789Z` -> epoch seconds (float)."""
    head, _, frac = ts.rstrip("Z").partition(".")
    base = datetime.strptime(head, "%Y-%m-%dT%H:%M:%S")
    return (base - datetime(1970, 1, 1)).total_seconds() + float("0." + (frac or "0"))


class LogTailer:
    """Reads the engine's stderr; keeps its JSON events and the last plain lines."""

    def __init__(self, stream):
        self.events = []
        self.plain = collections.deque(maxlen=60)
        self.cond = threading.Condition()
        self.closed = False     # the process closed its stderr: it has exited
        self.thread = threading.Thread(target=self._run, args=(stream,), daemon=True)
        self.thread.start()

    def _run(self, stream):
        try:
            self._read(stream)
        finally:
            with self.cond:
                self.closed = True
                self.cond.notify_all()

    def _read(self, stream):
        for line in stream:
            e = None
            if line.startswith("{"):
                try:
                    e = json.loads(line)
                except ValueError:
                    pass
            with self.cond:
                if isinstance(e, dict) and "event" in e:
                    self.events.append(e)
                else:
                    self.plain.append(line.rstrip())
                self.cond.notify_all()

    def of(self, name):
        with self.cond:
            return [e for e in self.events if e["event"] == name]

    def wait_for(self, pred, timeout):
        """Wait until pred(events) is true, a `stream_failed` appears or the
        process exits; returns pred's value."""
        with self.cond:
            self.cond.wait_for(lambda: pred(self.events) or self.failed() or self.closed, timeout)
            return pred(self.events)

    def failed(self):
        return any(e["event"] == "stream_failed" for e in self.events)

    def committed(self):
        """watermark -> (epoch seconds of its batch_committed line, event)."""
        return {e["watermark"]: (ts_epoch(e["ts"]), e) for e in self.of("batch_committed")}


class StatsdReceiver:
    """UDP receiver for the engine's DogStatsD datagrams on a local port."""

    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.settimeout(0.2)
        self.port = self.sock.getsockname()[1]
        self.metrics = []          # (name, value, type) in arrival order
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self):
        while not self.stop.is_set():
            try:
                data = self.sock.recv(65536).decode()
            except socket.timeout:
                continue
            for line in data.splitlines():
                name, _, rest = line.partition(":")
                parts = rest.split("|")
                if len(parts) >= 2:
                    self.metrics.append((name, float(parts[0]), parts[1]))

    def batch_ms(self):
        """`batch_ms` gauges of triggers that read rows (idle polls dropped)."""
        out, rows = [], 0.0
        for name, v, _ in self.metrics:
            if name.endswith(".rows"):
                rows = v
            elif name.endswith(".batch_ms") and rows > 0:
                out.append(v)
        return out

    def close(self):
        self.stop.set()
        self.thread.join()
        self.sock.close()


def file_sizes(*dirs):
    """path -> size for every file under dirs, minus local `.crc` side files."""
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                if not f.endswith(".crc"):
                    p = os.path.join(root, f)
                    try:
                        out[p] = os.path.getsize(p)
                    except FileNotFoundError:
                        pass
    return out


def created_bytes(before, after):
    return sum(s for p, s in after.items() if p not in before)


def vm_hwm_kb(pid):
    """Peak resident set (VmHWM) of a live process, in KiB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0
