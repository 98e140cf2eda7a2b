"""Read-back of the target table and its Iceberg and Delta exports, with no
engine code: the snapshot JSON, the Iceberg metadata chain (its own Avro
decoder) and the Delta log are resolved here to the live data files, and
DuckDB reads those. Each read-back is compared with the model on
(key, version, payload hash) and on row count.

Copy-on-write only: a table with outstanding row-level deletes is refused,
not half-read.
"""
import glob
import json
import os
import struct
import urllib.parse
import zlib

import duckdb


class Avro:
    """Minimal Avro binary decoder: enough of the spec for Iceberg manifests."""

    def __init__(self, buf):
        self.buf, self.pos = buf, 0

    def read(self, n):
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise EOFError("avro: truncated input")
        self.pos += n
        return b

    def long(self):
        shift = acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return (acc >> 1) ^ -(acc & 1)
            shift += 7

    def blocks(self):
        while True:
            n = self.long()
            if n == 0:
                return
            if n < 0:
                n = -n
                self.long()
            yield n

    def value(self, s, names):
        if isinstance(s, list):
            return self.value(s[self.long()], names)
        if isinstance(s, str) and s in names:
            return self.value(names[s], names)
        t = s if isinstance(s, str) else s["type"]
        if isinstance(t, (dict, list)):
            return self.value(t, names)
        if t == "null":
            return None
        if t == "boolean":
            return self.read(1)[0] != 0
        if t in ("int", "long"):
            return self.long()
        if t == "float":
            return struct.unpack("<f", self.read(4))[0]
        if t == "double":
            return struct.unpack("<d", self.read(8))[0]
        if t in ("bytes", "string"):
            b = self.read(self.long())
            return b.decode() if t == "string" else b
        if t == "fixed":
            return self.read(s["size"])
        if t == "enum":
            return s["symbols"][self.long()]
        if t == "record":
            names[s["name"]] = s
            return {f["name"]: self.value(f["type"], names) for f in s["fields"]}
        if t == "array":
            return [self.value(s["items"], names) for n in self.blocks() for _ in range(n)]
        if t == "map":
            out = {}
            for n in self.blocks():
                for _ in range(n):
                    k = self.read(self.long()).decode()
                    out[k] = self.value(s["values"], names)
            return out
        raise ValueError(f"avro: unsupported type {t!r}")


def avro_records(path):
    with open(path, "rb") as f:
        r = Avro(f.read())
    if r.read(4) != b"Obj\x01":
        raise ValueError(f"{path}: not an Avro container")
    meta = {}
    for n in r.blocks():
        for _ in range(n):
            k = r.read(r.long()).decode()
            meta[k] = r.read(r.long())
    sync = r.read(16)
    codec = meta.get("avro.codec", b"null").decode()
    schema = json.loads(meta["avro.schema"])
    out = []
    while r.pos < len(r.buf):
        count, size = r.long(), r.long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"{path}: unsupported codec {codec}")
        if r.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch")
        br = Avro(block)
        out.extend(br.value(schema, {}) for _ in range(count))
    return out


def local(uri):
    """Local path of a `file:` (or `counting:`) URI; plain paths pass through."""
    return urllib.parse.urlparse(uri).path if ":" in uri.split("/", 1)[0] else uri


def target_files(target):
    """Live data files of the target's current snapshot."""
    cur = open(os.path.join(target, "_current")).read().strip()
    snap = json.load(open(os.path.join(target, "_snapshots", cur)))
    if snap.get("deletes"):
        raise ValueError("target holds outstanding equality deletes")
    return [os.path.join(target, "data", f["path"]) for f in snap["files"]]


def iceberg_files(export_dir):
    md = os.path.join(export_dir, "metadata")
    hint = open(os.path.join(md, "version-hint.text")).read().strip()
    meta = json.load(open(os.path.join(md, f"v{hint}.metadata.json")))
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    files = []
    for m in avro_records(local(snap["manifest-list"])):
        if m.get("content", 0) != 0:
            raise ValueError("iceberg export carries delete manifests")
        for e in avro_records(local(m["manifest_path"])):
            if e["status"] != 2:
                files.append(local(e["data_file"]["file_path"]))
    return files


def delta_files(export_dir):
    log = os.path.join(export_dir, "_delta_log")
    live, start = {}, 0
    cp = os.path.join(log, "_last_checkpoint")
    if os.path.exists(cp):
        v = json.load(open(cp))["version"]
        parts = sorted(glob.glob(os.path.join(log, f"{v:020d}.checkpoint*.parquet")))
        for path, dv in duckdb.sql(
                f"select add.path, add.deletionVector from read_parquet({parts!r}) "
                "where add is not null").fetchall():
            if dv is not None:
                raise ValueError("delta export carries deletion vectors")
            live[path] = True
        start = v + 1
    versions = sorted(int(os.path.basename(p)[:20]) for p in glob.glob(os.path.join(log, "*.json")))
    for v in (v for v in versions if v >= start):
        for line in open(os.path.join(log, f"{v:020d}.json")):
            a = json.loads(line)
            if "add" in a:
                if a["add"].get("deletionVector"):
                    raise ValueError("delta export carries deletion vectors")
                live[a["add"]["path"]] = True
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
    return [os.path.join(export_dir, local(p)) for p in live]


READBACK_SQL = """
select arcane_merge_key as k, versionnumber as v, md5(concat_ws('|',
  itemid, linenum, qty, dataareaid, modifiedby,
  strftime(SinkModifiedOn, '%Y-%m-%d %H:%M:%S'),
  strftime(modifieddatetime, '%Y-%m-%d %H:%M:%S'),
  strftime(createdon, '%Y-%m-%d %H:%M:%S'))) as h
from read_parquet({files!r}, hive_partitioning = false)
"""


def compare(files, expected):
    """Number of mismatching keys between the rows in `files` and the model."""
    con = duckdb.connect()
    rows = con.sql(READBACK_SQL.format(files=files)).fetchall() if files else []
    bad = abs(len(rows) - len(expected))
    seen = set()
    for k, v, h in rows:
        if k in seen or expected.get(k) != (v, h):
            bad += 1
        seen.add(k)
    return bad


def check_all(target, expected, iceberg_dir=None, delta_dir=None):
    """{'target': mismatches, 'iceberg': ..., 'delta': ...}; a read-back that
    fails outright counts as one mismatch per expected row."""
    out = {}
    for name, d, fn in (("target", target, target_files), ("iceberg", iceberg_dir, iceberg_files),
                        ("delta", delta_dir, delta_files)):
        if d is None:
            continue
        try:
            out[name] = compare(fn(d), expected)
        except Exception as e:  # a broken read-back is a wrong result, not a crash
            print(f"verify {name}: {type(e).__name__}: {e}")
            out[name] = max(1, len(expected))
    return out

