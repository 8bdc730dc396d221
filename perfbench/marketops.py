"""Inputs and expected outputs of the `market_ops` workload.

The database is a generated archive (see archive.py). Each cycle of the
closed loop runs every select kind, `size`, an `insert` of a fresh batch,
a `clean` after deleting a few data files, and an `export`. This module
writes the batches and works out, cycle by cycle, what each call must
return.

Each batch holds fresh markets (INSERT) plus planted cases on markets
already in the database, moved with the `betfair_historical` pattern and
the `update` policy:
  - UPDATE: the same data file with a revised catalogue (new marketName);
  - SKIP: identical catalogue and data file;
  - a larger data file with an identical catalogue: SKIP for the row, but
    the data file replaces the smaller one.
Planted cases use plaintext markets with their own catalogue outside the
racing join, so a re-import yields exactly the indexed row.
"""
import json
import os

from archive import build_archive, instantiate, write_files

SELECTS = [
    {"name": "lookup", "columns": None, "where": "marketId = '{lookup}'",
     "limit": -1},
    {"name": "filter", "columns": None,
     "where": "eventTypeId = '4339' AND eventCountryCode = 'GB'", "limit": -1},
    {"name": "compat", "columns": None,
     "where": "time(to_timestamp(marketStartTime)) > '12:00:00' AND "
              "strftime('%Y', to_timestamp(marketStartTime)) == '2023'",
     "limit": -1},
    {"name": "projection",
     "columns": ["marketId", "marketName", "marketStartTime"], "where": None,
     "limit": 100},
    {"name": "scan", "columns": None, "where": None, "limit": -1},
]

UPDATES, SKIPS, LARGER = 2, 2, 1
PLANTED = UPDATES + SKIPS + LARGER
VICTIMS = 3  # data files deleted before each clean


def select_rows(name, live, lookup):
    """Rows the select called `name` must return over the markets `live`."""
    ms = live.values()
    if name == "lookup":
        return int(lookup in live)
    if name == "filter":
        return sum(m["eventTypeId"] == "4339" and m["eventCountryCode"] == "GB"
                   for m in ms)
    if name == "compat":
        return sum(bool(m["marketStartTime"])
                   and m["marketStartTime"][11:19] > "12:00:00"
                   and m["marketStartTime"][:4] == "2023" for m in ms)
    if name == "projection":
        return min(100, len(live))
    return len(live)


def planted(unit, case):
    """The files of a planted insert case on an indexed market."""
    (data_name, data, _), (meta_name, meta, _) = unit["files"]
    if case == "update":
        m = json.loads(meta)
        m["marketName"] = f"{m['marketName']} (revised)"
        meta = json.dumps(m).encode()
    elif case == "larger":
        last = data.rstrip(b"\n").split(b"\n")[-1]
        data = data.rstrip(b"\n") + b"\n" + last + b"\n"
    return [(data_name, data, None), (meta_name, meta, None)]


def plan(work, templates, replicas, cycles, fresh, pool, rng):
    """Writes the database archive and `cycles` batches under `work`;
    returns the workload's plan section."""
    archive = os.path.join(work, "db")
    counters, markets, units = build_archive(archive, templates, replicas,
                                             pool, rng)
    live = {m["marketId"]: m for m in markets}
    candidates = [u for u in units if u["template"].non_racing_catalogue()]
    rng.shuffle(candidates)
    lookup = candidates.pop()["rows"][0]["marketId"]
    used = {id(u) for u in candidates}
    victims = [m for u in units if u["template"].kind == "row"
               and id(u) not in used for m in u["rows"]
               if m["marketId"] != lookup]
    rng.shuffle(victims)
    row_templates = [t for t in templates if t.kind == "row"]
    assert len(candidates) >= PLANTED * cycles, "too few plantable markets"
    assert len(victims) >= VICTIMS * cycles, "too few clean victims"

    selects = [dict(s, where=s["where"].format(lookup=lookup))
               if s["where"] else s for s in SELECTS]
    out = []
    for c in range(cycles):
        batch = os.path.join(work, f"batch_{c}")
        rows = [select_rows(s["name"], live, lookup) for s in selects]
        size = len(live)
        added = {}
        for k in range(fresh):
            t = row_templates[k % len(row_templates)]
            _, files, ms = instantiate(t, pool, rng)
            write_files(batch, "", files)
            added.update((m["marketId"], m) for m in ms)
        cases = (["update"] * UPDATES + ["skip"] * SKIPS + ["larger"] * LARGER)
        for case in cases:
            write_files(batch, "", planted(candidates.pop(), case))
        live.update(added)
        gone = victims[VICTIMS * c:VICTIMS * (c + 1)]
        for m in gone:
            del live[m["marketId"]]
        out.append({
            "batch": batch,
            "select_rows": rows,
            "size": size,
            "insert": {"totalMarkets": len(added) + PLANTED,
                       "rowsInserted": len(added) + UPDATES,
                       "marketsUpdated": UPDATES,
                       "marketsSkipped": SKIPS + LARGER,
                       "marketsWithoutData": 0, "marketsWithoutMetadata": 0,
                       "corruptFiles": 0},
            "delete": [os.path.relpath(m["dataPath"], archive) for m in gone],
            "clean": len(gone),
            "export_lines": len(live) + 1,
        })
    return {"archive": archive, "expected": counters, "selects": selects,
            "cycles": out}
