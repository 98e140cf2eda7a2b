"""Seeded Synapse Link export generator and the in-memory model of its end state.

A feed is one entity with twelve D365-shaped columns. Its folders are built
in memory from the seed alone; `write_folder` puts one on disk (model.json
plus chunk CSVs) and `land` moves a pre-written folder into the export root
and stamps `Changelog/changelog.info`, in that order, so a reader never sees
a stamp for an incomplete folder.

`Model` applies change rows the way the engine must: the highest
`versionnumber` per key wins, a tombstone removes the key.
"""
import hashlib
import json
import os
import random
import uuid
from datetime import datetime, timedelta

ENTITY = "salesline"
COLUMNS = [
    ("Id", "guid"),
    ("SinkCreatedOn", "dateTime"),
    ("SinkModifiedOn", "dateTime"),
    ("itemid", "string"),
    ("linenum", "int64"),
    ("qty", "int64"),
    ("dataareaid", "string"),
    ("modifiedby", "string"),
    ("modifieddatetime", "dateTime"),
    ("versionnumber", "int64"),
    ("createdon", "dateTimeOffset"),
    ("IsDelete", "boolean"),
]
# Columns whose typed values make up a row's payload, in hash order.
PAYLOAD = ["itemid", "linenum", "qty", "dataareaid", "modifiedby",
           "SinkModifiedOn", "modifieddatetime", "createdon"]
EPOCH = datetime(2024, 3, 1)   # folder names count seconds from here; row timestamps span 30 days


def folder_name(i):
    return (EPOCH + timedelta(seconds=i)).strftime("%Y-%m-%dT%H.%M.%SZ")


def model_json():
    attrs = [{"name": n, "dataType": t, "maxLength": -1} for n, t in COLUMNS]
    return json.dumps({"name": "cdm", "description": "cdm", "version": "1.0",
                       "entities": [{"$type": "LocalEntity", "name": ENTITY,
                                     "attributes": attrs}]}, indent=1)


def d365(ts):
    """`M/d/yyyy h:mm:ss tt`; hours 0 and 13-23 keep a vestigial marker,
    as Synapse writes them (hour 0 with PM is midnight)."""
    h = ts.hour
    if h == 0:
        hh, mer = 0, ("PM" if ts.minute % 2 else "AM")
    elif h > 12:
        hh, mer = h, "PM"
    else:
        hh, mer = h, ("PM" if h == 12 else "AM")
    return f"{ts.month}/{ts.day}/{ts.year} {hh}:{ts.minute:02d}:{ts.second:02d} {mer}"


def payload_string(p):
    """Canonical payload text; the read-back side renders typed values the same way."""
    return "|".join(str(p[c]) for c in PAYLOAD)


def payload_hash(p):
    return hashlib.md5(payload_string(p).encode()).hexdigest()


class Feed:
    """Deterministic change feed: folder 0 holds `base_rows` inserts, folders
    1..n_folders hold `rows_per_folder` change rows each."""

    def __init__(self, seed, base_rows, n_folders, rows_per_folder,
                 update_frac=0.4, delete_frac=0.05, dup_frac=0.02, skew=1.2):
        self.rng = random.Random(seed)
        self.base_rows, self.n_folders = base_rows, n_folders
        self.rows_per_folder = rows_per_folder
        self.update_frac, self.delete_frac, self.dup_frac = update_frac, delete_frac, dup_frac
        self.skew = skew
        self.version = 1_000_000_000
        self.live = []          # keys that may be updated or deleted
        self.live_idx = {}

    def _key(self):
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))

    def _ts(self):
        return EPOCH + timedelta(seconds=self.rng.randrange(0, 86400 * 30))

    def _row(self, key, delete=False):
        self.version += 1 + self.rng.randrange(3)
        sink = self._ts()
        if delete:
            return {"Id": key, "versionnumber": self.version, "delete": True, "sink": sink}
        p = {
            "itemid": "ITEM-%05d%s" % (self.rng.randrange(100000),
                                       ", bulk" if self.rng.random() < 0.1 else ""),
            "linenum": self.rng.randrange(1, 200),
            "qty": self.rng.randrange(-50, 5000),
            "dataareaid": self.rng.choice(["usmf", "demf", "gbsi", "jpmf"]),
            "modifiedby": "user%03d" % self.rng.randrange(400),
            "SinkModifiedOn": sink.strftime("%Y-%m-%d %H:%M:%S"),
            "modifieddatetime": self._ts().strftime("%Y-%m-%d %H:%M:%S"),
            "createdon": self._ts().strftime("%Y-%m-%d %H:%M:%S"),
        }
        return {"Id": key, "versionnumber": self.version, "delete": False, "sink": sink, "p": p}

    def _pick_live(self):
        # Skewed: low indexes (old, hot keys) are picked far more often.
        n = len(self.live)
        i = min(n - 1, int(n * (self.rng.random() ** (1 + self.skew * 2))))
        return self.live[i]

    def _add_live(self, k):
        self.live_idx[k] = len(self.live)
        self.live.append(k)

    def _drop_live(self, k):
        i = self.live_idx.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.live_idx[last] = i

    def folders(self):
        """Yield (index, rows) for folder 0 (base) and every change folder."""
        base = []
        for _ in range(self.base_rows):
            k = self._key()
            self._add_live(k)
            base.append(self._row(k))
        yield 0, base
        for f in range(1, self.n_folders + 1):
            rows = []
            for _ in range(self.rows_per_folder):
                r = self.rng.random()
                if rows and r < self.dup_frac:
                    # in-folder duplicate: a later version of a key already in this folder
                    prev = self.rng.choice(rows)
                    if prev["delete"]:
                        continue
                    rows.append(self._row(prev["Id"]))
                elif self.live and r < self.dup_frac + self.delete_frac:
                    k = self._pick_live()
                    self._drop_live(k)
                    rows.append(self._row(k, delete=True))
                elif self.live and r < self.dup_frac + self.delete_frac + self.update_frac:
                    rows.append(self._row(self._pick_live()))
                else:
                    k = self._key()
                    self._add_live(k)
                    rows.append(self._row(k))
            yield f, rows


def csv_line(r):
    s = d365(r["sink"])
    if r["delete"]:
        return ",".join([r["Id"], f'"{s}"', f'"{s}"', "", "", "", "", "", "",
                         str(r["versionnumber"]), '"0001-01-03T00:00:00.0000000"', "True"])
    p = r["p"]
    return ",".join([
        r["Id"], f'"{s}"', f'"{s}"', f'"{p["itemid"]}"', str(p["linenum"]), str(p["qty"]),
        f'"{p["dataareaid"]}"', f'"{p["modifiedby"]}"',
        '"%s.0000000Z"' % p["modifieddatetime"].replace(" ", "T"), str(r["versionnumber"]),
        '"%s.0000000+00:00"' % p["createdon"].replace(" ", "T"), ""])


def write_folder(root, index, rows, chunks):
    """Write one folder (model.json + `chunks` CSV files); returns CSV bytes."""
    d = os.path.join(root, folder_name(index), ENTITY)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(root, folder_name(index), "model.json"), "w") as f:
        f.write(model_json())
    total = 0
    per = max(1, -(-len(rows) // chunks))
    for c in range(chunks):
        part = rows[c * per:(c + 1) * per]
        if not part:
            break
        data = ("\n".join(csv_line(r) for r in part) + "\n").encode()
        with open(os.path.join(d, f"{c + 1}.csv"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def stamp(root, folder):
    os.makedirs(os.path.join(root, "Changelog"), exist_ok=True)
    tmp = os.path.join(root, "Changelog", ".changelog.info.tmp")
    with open(tmp, "w") as f:
        f.write(folder)
    os.replace(tmp, os.path.join(root, "Changelog", "changelog.info"))


def land(staging, root, index):
    """Atomically move a pre-written folder into the export root, then stamp it."""
    name = folder_name(index)
    os.rename(os.path.join(staging, name), os.path.join(root, name))
    stamp(root, name)


class Model:
    """Expected final state: key -> (version, payload) for live keys."""

    def __init__(self):
        self.state = {}
        self.dead = {}

    def apply(self, rows):
        for r in rows:
            k = r["Id"].lower()
            cur = self.state.get(k)
            cur_v = cur[0] if cur else self.dead.get(k, -1)
            if r["versionnumber"] <= cur_v:
                continue
            if r["delete"]:
                self.state.pop(k, None)
                self.dead[k] = r["versionnumber"]
            else:
                self.state[k] = (r["versionnumber"], r["p"])

    def expected(self):
        """key -> (version, payload hash)."""
        return {k: (v, payload_hash(p)) for k, (v, p) in self.state.items()}
