"""Output checks for both workloads, independent of graft.

- ``fingerprint``: the DuckDB-side twin of the harness's
  ``Fingerprint`` (same canonical row rendering and hash), used to
  record the corpus expectations from the DuckDB oracles.
- ``check_feed_ops``: every step's row counts against the generator's
  independently computed expectations, and the exported zip against
  the database it was exported from; the streamed state store against
  the latest update per id, and the served feed against that state.
"""
import csv
import datetime as dt
import decimal
import hashlib
import io
import os
import struct
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)

# ----------------------------------------------------------- fingerprint


def _double(x):
    if x != x:
        return "nan"
    if x == 0.0:
        return "0"
    return format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def _cell(v, t):
    if v is None:
        return "\\N"
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_integer(t):
        return str(v)
    if pa.types.is_floating(t):
        return _double(float(v))
    if pa.types.is_decimal(t):
        return format(v, "f") if isinstance(v, decimal.Decimal) else str(v)
    if pa.types.is_timestamp(t):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if pa.types.is_date(t):
        return str((v - dt.date(1970, 1, 1)).days)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return v.hex()
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "[" + ",".join(_cell(x, t.value_type) for x in v) + "]"
    if pa.types.is_struct(t):
        return "{" + ",".join(_cell(v[t.field(i).name], t.field(i).type)
                              for i in range(t.num_fields)) + "}"
    if pa.types.is_map(t):
        items = sorted((_cell(k, t.key_type), _cell(x, t.item_type)) for k, x in v)
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    return str(v)


def fingerprint(table):
    """(rows, hex sum) of an arrow table, as perfbench.Fingerprint."""
    names = sorted(table.column_names)
    cols = [(table.column(n).to_pylist(), table.schema.field(n).type) for n in names]
    total = 0
    for i in range(table.num_rows):
        row = "\u0001".join(_cell(vals[i], t) for vals, t in cols)
        total = (total + int.from_bytes(hashlib.md5(row.encode("utf-8")).digest()[:8], "big")) % (1 << 64)
    return table.num_rows, format(total, "x")


# ------------------------------------------------------------- feed ops

GTFS_ID = {"agency": "agency_id", "routes": "route_id", "trips": "trip_id",
           "stops": "stop_id", "stop_times": "trip_id", "shapes": "shape_id",
           "calendar": "service_id", "calendar_dates": "service_id",
           "transfers": "from_trip_id", "feed_info": None}


def db_counts(db):
    out = {}
    for name in os.listdir(db):
        if name.endswith(".parquet") and not name.startswith("_"):
            path = os.path.join(db, name)
            files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
            out[name[:-len(".parquet")]] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out


def db_ids(db, table, column):
    path = os.path.join(db, f"{table}.parquet")
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return sorted(v for f in files for v in pq.read_table(f, columns=[column]).column(0).to_pylist())


def zip_tables(path):
    out = {}
    with zipfile.ZipFile(path) as z:
        for name in z.namelist():
            text = z.read(name).decode("utf-8")
            rows = list(csv.reader(io.StringIO(text)))
            out[name[:-len(".txt")]] = rows
    return out


def expected_state(truth, ttl):
    """Latest matched update per id inside the TTL window of the newest:
    {trip_update_id: (event_ts, matched trip)}."""
    latest = {}
    for m in truth:
        if m["kind"] in ("exact", "matched"):
            latest[m["id"]] = (m["event_ts"], m["trip"])
    top = max((v[0] for v in latest.values()), default=0)
    return {k: v for k, v in latest.items() if v[0] > top - ttl}


def store_state(store):
    """The latest committed version of a ParquetStateStore directory."""
    versions = [d for d in os.listdir(store) if d.startswith("v=")]
    if not versions:
        return {}
    last = os.path.join(store, max(versions, key=lambda d: int(d[2:])))
    files = sorted(os.path.join(last, f) for f in os.listdir(last) if f.endswith(".parquet"))
    rows = {}
    for f in files:
        t = pq.read_table(f, columns=["trip_update_id", "last_updated_ts", "matched_trip_id"])
        for k, ts, trip in zip(*(t.column(i).to_pylist() for i in range(3))):
            rows[k] = (ts, trip)
    return rows


def check_feed_ops(result, manifest, work, truth, ttl):
    """Return (failures per step record, problems list)."""
    exp = manifest["expected"]
    want_state = expected_state(truth[:result["published"]], ttl)
    problems = []
    bad = []
    for rec in result["steps"]:
        step, cycle = rec["step"], rec["cycle"]
        d = os.path.join(work, f"cycle{cycle}")
        why = rec.get("error")
        if why is None:
            if step in ("load", "remove", "drop"):
                got = db_counts(os.path.join(d, step))
                want = {k: exp[step].get(k, 0) for k in got}
                missing = set(exp[step]) - set(got)
                if got != want or missing:
                    why = f"row counts {got} != {exp[step]}"
            elif step in ("day_trips", "monitor", "sql"):
                if rec["rows"] != exp[step]:
                    why = f"rows {rec['rows']} != {exp[step]}"
            elif step == "export":
                why = _check_export(os.path.join(d, "export.zip"), os.path.join(d, "drop"), exp["drop"])
            elif step == "rt_stream":
                got = store_state(os.path.join(d, "rt_state"))
                if got != want_state:
                    why = (f"state has {len(got)} ids, the latest matched updates "
                           f"give {len(want_state)}; {len(set(got.items()) ^ set(want_state.items()))} differ")
            elif step == "rt_serve":
                ids = rec["ids"]
                if rec["status"] != 200 or len(set(ids)) != len(ids) or set(ids) != set(want_state):
                    why = f"served {len(ids)} entities (status {rec['status']}), state has {len(want_state)}"
        bad.append(why is not None)
        if why is not None:
            problems.append(f"{step}#{cycle}: {why}")
    return bad, problems


def _check_export(zpath, db, want_counts):
    tables = zip_tables(zpath)
    for name, rows in tables.items():
        n = len(rows) - 1 if rows else 0
        if n != want_counts.get(name, 0):
            return f"export {name}: {n} rows != {want_counts.get(name, 0)}"
        key = GTFS_ID.get(name)
        if key and n:
            i = rows[0].index(key)
            if sorted(r[i] for r in rows[1:]) != db_ids(db, name, key):
                return f"export {name}: {key} values differ from the database"
    missing = {k for k, v in want_counts.items() if v} - set(tables)
    return f"export lacks {sorted(missing)}" if missing else None
