"""Seeded Betfair-historical archive generator.

Every archive is built from the committed fixtures under
`src/test/resources/datasets`: each fixture market is replicated with a fresh,
unique market id written into its file names, its JSON and its (re-compressed)
stream, so nothing is downloaded and the same seed always gives the same
bytes. One replica holds the fixtures' whole format mix: catalogue plus
plaintext stream, zip streams with catalogues, official bz2 definition-only
streams, gz/bz2/zip/plaintext streams without metadata, a stream with no
market definition, two corrupt markets, an orphan catalogue and a directory
with a bulk `metadata.json`.

Files are laid out the way Betfair's historical data is, `yyyy/Mon/d/eventId`,
from each market's own settled-else-start time, which is also where the
engine's `betfair_historical` import pattern puts them.

Beside the files the generator returns what the engine must report for them:
the audit counters of an index build and the attributes every benchmark
`select` filters on.
"""
import bz2
import calendar
import gzip
import io
import json
import os
import zipfile

FIXTURES = os.path.join("src", "test", "resources", "datasets")

# (kind, files) per fixture market. kind is what an index build makes of it:
# "row" (indexed), "missing" (stream without a market definition),
# "corrupt", "orphan" (metadata without data) or "bulk" (a directory whose
# metadata.json describes three of its four markets).
UNITS = [
    ("row", ["uncompressed/1.216347921", "uncompressed/1.216347921.json"]),
    ("row", ["uncompressed/1.216395208", "uncompressed/1.216395208.json"]),
    ("row", ["uncompressed/1.216395251", "uncompressed/1.216395251.json"]),
    ("row", ["uncompressed/1.216418252", "uncompressed/1.216418252.json"]),
    ("row", ["uncompressed/1.216424223", "uncompressed/1.216424223.json"]),
    ("row", ["zip-lzma/1.197931750.zip", "zip-lzma/1.197931750.json"]),
    ("row", ["zip-lzma/1.197931751.zip", "zip-lzma/1.197931751.json"]),
    ("row", ["zip-lzma/1.201590187.zip", "zip-lzma/1.201590187.json"]),
    ("row", ["zip-lzma/1.214870442.zip", "zip-lzma/1.214870442.json"]),
    ("row", ["official/1.145405534.bz2"]),
    ("row", ["official/1.211006011.bz2"]),
    ("row", ["official/1.223716976.bz2"]),
    ("row", ["official/1.230478683.bz2"]),
    ("row", ["official/1.214555872.bz2", "official/1.214555872.json"]),
    ("row", ["missing_metadata/1.197931750.gz"]),
    ("row", ["missing_metadata/1.214555872.bz2"]),
    ("row", ["missing_metadata/1.219107753.zip"]),
    ("row", ["missing_metadata/1.223716981"]),
    ("corrupt", ["missing_metadata/1.223716890"]),
    ("missing", ["missing_metadata/1.209492553"]),
    ("corrupt", ["corrupt/1.221089567.json", "corrupt/1.221089567.zip"]),
    ("orphan", ["uncompressed/1.199967351.json"]),
    ("bulk", ["bulk_metadata/metadata.json",
              "bulk_metadata/1.197931750.zip", "bulk_metadata/1.197931751.zip",
              "bulk_metadata/1.201590187.zip", "bulk_metadata/1.214870442.zip",
              "bulk_metadata/1.214870442.json"]),
]

RACING_EVENT_TYPES = {"7", "4339"}


def market_id_of(name):
    """`1.216347921.json` -> `1.216347921`; None for `metadata.json`."""
    if not name.startswith("1."):
        return None
    return name[:11]


def read_fixture(rel):
    """(decompressed bytes, zip compress type or None) of one fixture file."""
    path = os.path.join(FIXTURES, rel)
    if rel.endswith(".zip"):
        if os.path.getsize(path) == 0:
            return b"", None
        with zipfile.ZipFile(path) as z:
            info = z.infolist()[0]
            return z.read(info), info.compress_type
    with open(path, "rb") as f:
        raw = f.read()
    if rel.endswith(".gz"):
        return gzip.decompress(raw), None
    if rel.endswith(".bz2"):
        return bz2.decompress(raw), None
    return raw, None


def encode(name, data, ztype):
    """Compress `data` the way `name`'s suffix says, deterministically."""
    if name.endswith(".gz"):
        return gzip.compress(data, mtime=0)
    if name.endswith(".bz2"):
        return bz2.compress(data, compresslevel=1)
    if name.endswith(".zip"):
        if ztype is None:
            return data  # the corrupt fixture: an empty file, not an archive
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            info = zipfile.ZipInfo(name[:-4], date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = ztype
            z.writestr(info, data)
        return buf.getvalue()
    return data


def last_definition(stream):
    """Mirror of the engine's A4 extraction: the last line that mentions
    `marketDefinition`, parsed; returns (outcome, definition)."""
    last = None
    for line in stream.decode("utf-8", "replace").split("\n"):
        if "marketDefinition" in line:
            last = line
    if last is None:
        return "missing", None
    try:
        mc0 = json.loads(last)["mc"][0]
        d = dict(mc0["marketDefinition"])
        d["marketId"] = mc0["id"]
        return "ok", d
    except (ValueError, KeyError, IndexError, TypeError):
        return "corrupt", None


def attributes(meta):
    """The index columns a benchmark select filters on, flattened the way
    the engine does (definition when `numberOfWinners` is present, else
    catalogue)."""
    if meta.get("numberOfWinners") is not None:
        return {
            "marketId": meta.get("marketId"),
            "eventTypeId": meta.get("eventTypeId"),
            "eventCountryCode": meta.get("countryCode"),
            "marketStartTime": meta.get("marketTime"),
            "settled": meta.get("settledTime"),
            "eventId": meta.get("eventId"),
        }
    return {
        "marketId": meta.get("marketId"),
        "eventTypeId": (meta.get("eventType") or {}).get("id"),
        "eventCountryCode": (meta.get("event") or {}).get("countryCode"),
        "marketStartTime": meta.get("marketStartTime"),
        "settled": (meta.get("description") or {}).get("settledTime"),
        "eventId": (meta.get("event") or {}).get("id"),
    }


def historical_dir(attrs):
    """`yyyy/Mon/d/eventId` from settled-else-start time (UTC)."""
    ts = attrs["settled"] or attrs["marketStartTime"]
    year, month, day = int(ts[0:4]), int(ts[5:7]), int(ts[8:10])
    return f"{year}/{calendar.month_abbr[month]}/{day}/{attrs['eventId']}"


class Template:
    """One fixture market (or the bulk directory), decoded once."""

    def __init__(self, kind, files):
        self.kind = kind
        self.files = []  # (fixture name, decompressed bytes, zip type)
        for rel in files:
            data, ztype = read_fixture(rel)
            self.files.append((os.path.basename(rel), data, ztype))
        self.ids = sorted({market_id_of(n) for n, _, _ in self.files} - {None})
        self.meta = {}  # market id -> index attributes of rows it makes
        for name, data, _ in self.files:
            mid = market_id_of(name)
            if name == "metadata.json":
                for m in json.loads(data):
                    self.meta[m["marketId"]] = attributes(m)
            elif name.endswith(".json") and data and mid not in self.meta:
                self.meta[mid] = attributes(json.loads(data))
        if kind == "row" and not self.meta:
            name, data, _ = self.files[0]
            outcome, d = last_definition(data)
            assert outcome == "ok", (name, outcome)
            self.meta[market_id_of(name)] = attributes(d)
        first = self.meta.get(self.ids[0])
        self.dir = historical_dir(first) if first else None

    def non_racing_catalogue(self):
        """A plaintext stream with its own catalogue, outside the racing
        join: re-importing it yields a row equal to the indexed one."""
        return (self.kind == "row" and len(self.files) == 2
                and self.files[0][2] is None
                and not self.files[0][0].endswith((".gz", ".bz2", ".zip"))
                and self.meta[self.ids[0]]["eventTypeId"]
                not in RACING_EVENT_TYPES)


def load_templates():
    return [Template(kind, files) for kind, files in UNITS]


class IdPool:
    """Unique market ids drawn from the seed."""

    def __init__(self, rng, n):
        self.ids = [f"1.{i}" for i in rng.sample(range(100_000_000, 1_000_000_000), n)]
        self.next = 0

    def take(self):
        mid = self.ids[self.next]
        self.next += 1
        return mid


def instantiate(template, pool, rng):
    """One replica of `template` with fresh ids. Returns (rel dir, files,
    markets): files is [(file name, bytes, zip type)], markets the index
    attributes of the rows it makes."""
    mapping = {old: pool.take() for old in template.ids}
    d = template.dir or f"{rng.choice([2022, 2023])}/" \
        f"{calendar.month_abbr[rng.randint(1, 12)]}/{rng.randint(1, 28)}/0"
    files = []
    for name, data, ztype in template.files:
        for old, new in mapping.items():
            data = data.replace(old.encode(), new.encode())
            name = name.replace(old, new)
        files.append((name, data, ztype))
    markets = []
    for old, attrs in template.meta.items():
        if template.kind in ("row", "bulk"):
            markets.append(dict(attrs, marketId=mapping[old]))
    return d, files, markets


def write_files(root, rel_dir, files):
    """Write `files` under root/rel_dir; bulk metadata.json files that land
    in one directory are merged into one array."""
    out = os.path.join(root, rel_dir)
    os.makedirs(out, exist_ok=True)
    paths = []
    for name, data, ztype in files:
        path = os.path.join(out, name)
        if name == "metadata.json" and os.path.exists(path):
            with open(path, "rb") as f:
                merged = json.loads(f.read()) + json.loads(data)
            data = json.dumps(merged).encode()
        with open(path, "wb") as f:
            f.write(encode(name, data, ztype))
        paths.append(path)
    return paths


# the counter a market of each non-indexed kind lands in
KIND_COUNTER = {"missing": "marketsWithoutMetadata", "corrupt": "corruptFiles",
                "orphan": "marketsWithoutData"}


def build_archive(root, templates, replicas, pool, rng):
    """`replicas` copies of the whole fixture mix under root. Returns
    (counters, markets, units): markets is every indexed row's attributes
    with its data file path; units keeps each replica's files for planting
    insert cases."""
    counters = dict.fromkeys(["totalMarkets", "rowsInserted",
                              *KIND_COUNTER.values()], 0)
    markets, units = [], []
    for _ in range(replicas):
        for t in templates:
            d, files, rows = instantiate(t, pool, rng)
            paths = write_files(root, d, files)
            counters["totalMarkets"] += len(t.ids)
            counters[KIND_COUNTER.get(t.kind, "rowsInserted")] += len(t.ids)
            for m in rows:
                data = [p for p in paths if os.path.basename(p).startswith(m["marketId"])
                        and not p.endswith(".json")]
                m["dataPath"] = data[0] if data else None
            markets.extend(rows)
            units.append({"template": t, "files": files, "rows": rows})
    return counters, markets, units
