"""Seeded input generators for the graft benchmark.

Everything the benchmark feeds graft is made here, from a seed, with no
download. The same seed gives byte-identical files:

- ``corpus``: the ten tables the ``SparkEntry.queries`` read (region,
  nation, customer, supplier, part, orders, lineitem, events, documents,
  embeddings) as parquet, shaped like the repository's testdata tables
  (TESTDATA.md) at sf0.001.
- ``gtfs``: a static GTFS zip, a subset feed database for ``dropSubset``, and
  the expected row counts after each step of the feed-ops sequence,
  computed here independently of graft.
- ``updates``: the trip-update payload stream the realtime workload
  publishes, each message tagged with its ground-truth kind.

Run ``python3 perfbench/gen.py <kind> <out_dir> [seed]`` to write one set.
"""
import csv
import hashlib
import io
import json
import os
import sys
import zipfile
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------- corpus

CORPUS_SIZES = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = "small red blue hot cold old new large".split()
PART_NOUN = "ring widget bolt plate rod gizmo gear anvil".split()


def _write_parquet(table, path):
    # fixed writer settings: the bytes depend only on the data
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def corpus(out_dir, seed=0):
    """Write the ten corpus tables; return {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = CORPUS_SIZES
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n["customer"])]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    ptypes = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n["part"])],
        "p_type": [ptypes[i] for i in rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) / 10.0, 2) for i in range(n["part"])]})
    base = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86_400_000_000, "us")
    odates = base + rng.integers(0, 2404, n["orders"]) * day
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                            for i in rng.integers(0, 5, n["orders"])]})
    nl = n["lineitem"]
    okeys = np.sort(rng.integers(0, n["orders"], nl))
    linenos = np.zeros(nl, dtype=np.int32)
    for i in range(1, nl):
        linenos[i] = linenos[i - 1] + 1 if okeys[i] == okeys[i - 1] else 0
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(linenos + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(base + rng.integers(1, 2500, nl) * day, pa.timestamp("us"))})
    ne = n["events"]
    ev_base = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ev_base + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [("click", "view", "purchase", "signup", "error")[i]
                       for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 500.0, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    langs = ["en"] * 3 + ["de", "es", "fr", "zh"]
    texts = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            # near duplicate: an earlier document with one marker word
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, dim))
    centers = 0.15 * centers / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(dim), (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------- gtfs

GTFS_SIZES = {"routes": 60, "trips_per_route": 30, "stops": 600, "stations": 60,
              "shape_points": 40, "services": 8, "transfers": 120}
# Operation day the read steps resolve; a Wednesday inside every
# calendar window, with calendar_dates exceptions on it.
OP_DAY = date(2024, 3, 13)
ROUTE_REMOVE_LIKE = "R1%"
SQL_STATEMENT = ("SELECT route_id, count(*) AS n_trips FROM trips "
                 "GROUP BY route_id ORDER BY route_id")
WEEKDAYS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]


def _hms(secs):
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def _feed_tables(rng, prefix, sizes, stop_ids_from=None):
    """One GTFS feed as {table: (header, rows)}; ids carry `prefix`."""
    t = {}
    t["agency"] = (["agency_id", "agency_name", "agency_url", "agency_timezone",
                    "agency_lang", "x_operator_code"],
                   [[f"{prefix}A{a}", f"Agency {prefix}{a}, Ltd.", "https://example.org",
                     "Europe/Berlin", "de", f"op{a}"] for a in range(2)])
    n_st = sizes["stations"]
    ids = stop_ids_from if stop_ids_from is not None else [f"{prefix}S{s}" for s in range(sizes["stops"])]
    stops = []
    for s, sid in enumerate(ids):
        parent = f"{prefix}ST{int(rng.integers(0, n_st))}" if rng.random() < 0.5 else ""
        # every 17th name holds a quoted comma and line break
        name = f"Stop {sid}" if s % 17 else f"Stop {sid}, platform\n{s % 3}"
        stops.append([sid, str(s), name, "", round(float(49 + rng.random()), 6),
                      round(float(11 + rng.random()), 6), "0" if s % 2 else "", parent])
    stops += [[f"{prefix}ST{s}", "", f"Station {s}", "", round(49.0 + s * 1e-3, 6),
               round(11.0 + s * 1e-3, 6), "1", ""] for s in range(n_st)]
    t["stops"] = (["stop_id", "stop_code", "stop_name", "stop_desc", "stop_lat",
                   "stop_lon", "location_type", "parent_station"], stops)
    services = [f"{prefix}SV{v}" for v in range(sizes["services"])]
    cal = []
    for v, sid in enumerate(services):
        flags = [1 if (v + d) % 3 else 0 for d in range(7)]
        cal.append([sid] + flags + [20240101, 20241231])
    t["calendar"] = (["service_id"] + WEEKDAYS + ["start_date", "end_date"], cal)
    op = int(OP_DAY.strftime("%Y%m%d"))
    cdates = []
    for v, sid in enumerate(services):
        cdates.append([sid, op, 2 if v % 4 == 0 else 1])
        cdates.append([sid, op + 1, 1])
    t["calendar_dates"] = (["service_id", "date", "exception_type"], cdates)
    routes, trips, stop_times, shapes = [], [], [], []
    n_stops = len(ids)
    for r in range(sizes["routes"]):
        rid = f"{prefix}R{r}"
        routes.append([f"{prefix}A{r % 2}", rid, f"{r}", f"Route {r} long name", "3",
                       "FF0000", f"extra{r}"])
        shape = f"{prefix}SH{r}"
        for p in range(sizes["shape_points"]):
            shapes.append([shape, round(49 + p * 1e-3, 6), round(11 + r * 1e-3, 6), p + 1])
        pattern = [ids[int(j)] for j in rng.choice(n_stops, int(rng.integers(8, 25)), replace=False)]
        for k in range(sizes["trips_per_route"]):
            tid = f"{prefix}T{r}_{k}"
            svc = services[int(rng.integers(0, len(services)))]
            trips.append([rid, svc, tid, f"To {pattern[-1]}", str(k % 2), shape])
            dep = 5 * 3600 + k * 1800 + r * 7  # distinct (route, first departure)
            for q, sid in enumerate(pattern):
                tm = _hms(dep + q * 120)
                stop_times.append([tid, tm, tm, sid, q + 1, "0", "0"])
    t["routes"] = (["agency_id", "route_id", "route_short_name", "route_long_name",
                    "route_type", "route_color", "x_route_extra"], routes)
    t["trips"] = (["route_id", "service_id", "trip_id", "trip_headsign", "direction_id",
                   "shape_id"], trips)
    t["stop_times"] = (["trip_id", "arrival_time", "departure_time", "stop_id",
                        "stop_sequence", "pickup_type", "drop_off_type"], stop_times)
    t["shapes"] = (["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"], shapes)
    transfers = []
    for _ in range(sizes["transfers"]):
        a, b = (trips[int(i)] for i in rng.integers(0, len(trips), 2))
        transfers.append([ids[int(rng.integers(0, n_stops))], ids[int(rng.integers(0, n_stops))],
                          a[0], b[0], a[2], b[2], "2", "120"])
    t["transfers"] = (["from_stop_id", "to_stop_id", "from_route_id", "to_route_id",
                       "from_trip_id", "to_trip_id", "transfer_type", "min_transfer_time"],
                      transfers)
    return t


def _zip_feed(tables, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(tables):
            header, rows = tables[name]
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)
            info = zipfile.ZipInfo(f"{name}.txt", date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, buf.getvalue())


def _write_db(tables, db):
    """A feed as a graft database: one parquet file per table, every
    column a string as the CSV ingest reads it; graft's schema alignment
    casts the typed columns on open."""
    os.makedirs(db, exist_ok=True)
    for name, (header, rows) in sorted(tables.items()):
        cols = {h: pa.array([None if r[i] is None else str(r[i]) for r in rows], pa.string())
                for i, h in enumerate(header)}
        _write_parquet(pa.table(cols), os.path.join(db, f"{name}.parquet"))


def _col(tables, name, column):
    header, rows = tables[name]
    i = header.index(column)
    return [r[i] for r in rows]


def _like_prefix(value, like):
    assert like.endswith("%") and "%" not in like[:-1] and "_" not in like
    return value.startswith(like[:-1])


def expected_counts(base, subset):
    """Row counts each feed-ops step must leave, computed without graft.

    Mirrors the reference semantics: remove cascades root to leaf,
    drop upserts stops by stop_id and appends every other table.
    """
    def counts(t):
        return {k: len(v[1]) for k, v in t.items()}

    loaded = counts(base)
    # remove: routes LIKE pattern, then the dependent-object cascade
    routes = [r for r in base["routes"][1] if not _like_prefix(r[1], ROUTE_REMOVE_LIKE)]
    route_ids = {r[1] for r in routes}
    trips = [r for r in base["trips"][1] if r[0] in route_ids]
    trip_ids = {r[2] for r in trips}
    stop_times = [r for r in base["stop_times"][1] if r[0] in trip_ids]
    used_stops = {r[3] for r in stop_times}
    stops_h, stops_rows = base["stops"]
    lt_i, par_i = stops_h.index("location_type"), stops_h.index("parent_station")
    plain = [r for r in stops_rows if r[lt_i] in ("", "0") and r[0] in used_stops]
    stations = [r for r in stops_rows if r[lt_i] == "1"]
    other = [r for r in stops_rows if r[lt_i] not in ("", "0", "1")]
    parents = {r[par_i] for r in plain + stations + other}
    stations_kept = [r for r in stations if r[0] in parents]
    shape_ids = {r[5] for r in trips}
    service_ids = {r[1] for r in trips}
    removed = dict(loaded)
    removed.update({
        "routes": len(routes), "trips": len(trips), "stop_times": len(stop_times),
        "stops": len(plain) + len(stations_kept) + len(other),
        "shapes": sum(1 for r in base["shapes"][1] if r[0] in shape_ids),
        "transfers": sum(1 for r in base["transfers"][1]
                         if r[2] in route_ids and r[3] in route_ids
                         and r[4] in trip_ids and r[5] in trip_ids),
        "calendar": sum(1 for r in base["calendar"][1] if r[0] in service_ids),
        "calendar_dates": sum(1 for r in base["calendar_dates"][1] if r[0] in service_ids),
    })
    kept_stop_ids = {r[0] for r in plain + stations_kept + other}
    dropped = {k: removed[k] + len(subset[k][1]) for k in removed if k in subset}
    dropped["stops"] = len(kept_stop_ids | {r[0] for r in subset["stops"][1]})
    # reads run on the dropped feed
    all_trips = trips + subset["trips"][1]
    all_cal = ([r for r in base["calendar"][1] if r[0] in service_ids] + subset["calendar"][1])
    all_cd = ([r for r in base["calendar_dates"][1] if r[0] in service_ids]
              + subset["calendar_dates"][1])
    op = int(OP_DAY.strftime("%Y%m%d"))
    wd = 1 + WEEKDAYS.index(OP_DAY.strftime("%A").lower())
    active = {r[0] for r in all_cal if r[8] <= op <= r[9] and r[wd] == 1}
    active |= {r[0] for r in all_cd if r[1] == op and r[2] == 1}
    active -= {r[0] for r in all_cd if r[1] == op and r[2] == 2}
    active_trips = {r[2] for r in all_trips if r[1] in active}
    all_st = stop_times + subset["stop_times"][1]
    day_trips = sum(1 for r in all_st if r[0] in active_trips)
    final_stops = kept_stop_ids | {r[0] for r in subset["stops"][1]}
    all_route_ids = route_ids | {r[1] for r in subset["routes"][1]}
    first = {r[0]: r[3] for r in all_st if r[4] == 1}
    trip_route = {r[2]: r[0] for r in all_trips}
    monitor = sum(1 for tid in active_trips
                  if tid in first and first[tid] in final_stops
                  and trip_route[tid] in all_route_ids)
    sql_rows = len({r[0] for r in all_trips})
    return {"load": loaded, "remove": removed, "drop": dropped,
            "day_trips": day_trips, "monitor": monitor, "sql": sql_rows}


def gtfs(out_dir, seed=0):
    """Write feed.zip and the subset database; return (manifest, base feed)."""
    sizes = GTFS_SIZES
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = _feed_tables(rng, "", sizes)
    # subset feed: new agency/routes/trips plus a few upserted stops
    sub_sizes = dict(sizes, routes=4, trips_per_route=5, stations=3, transfers=4, services=2)
    base_stop_ids = _col(base, "stops", "stop_id")[:sizes["stops"]]
    overlap = [base_stop_ids[int(i)] for i in rng.choice(len(base_stop_ids), 10, replace=False)]
    sub_ids = overlap + [f"X{s}" for s in range(20)]
    subset = _feed_tables(rng, "X", sub_sizes, stop_ids_from=sub_ids)
    # feed_info stays absent from both feeds: a missing optional file
    _zip_feed(base, os.path.join(out_dir, "feed.zip"))
    _write_db(subset, os.path.join(out_dir, "subset_db"))
    manifest = {
        "seed": seed, "op_day": OP_DAY.isoformat(), "remove_like": ROUTE_REMOVE_LIKE,
        "sql": SQL_STATEMENT,
        "sizes": {k: len(v[1]) for k, v in base.items()},
        "subset_sizes": {k: len(v[1]) for k, v in subset.items()},
        "expected": expected_counts(base, subset),
    }
    manifest["trips"] = [[r[2], r[0]] for r in base["trips"][1]]
    with open(os.path.join(out_dir, "gtfs.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest, base


# ------------------------------------------------------------ updates

UPDATE_MIX = {"unknown_trip": 0.05, "unmatchable": 0.01, "malformed": 0.01}
EVENT_STEP_S = 20  # event-time advance per message: 400 messages span the 2 h TTL


def updates(out_dir, base, seed=0, n_messages=4000, n_ids=2000):
    """Write updates.jsonl: one published message per line.

    Each line: {"payload": str, "kind": exact|matched|unmatchable|
    malformed, "id": trip_update_id or null, "event_ts": int,
    "trip": the trip it must match or null}.
    """
    rng = np.random.default_rng(seed + 1_000_003)
    trips = base["trips"][1]
    st_by_trip = {}
    for r in base["stop_times"][1]:
        st_by_trip.setdefault(r[0], []).append(r)
    ids = []
    for i in range(n_ids):
        u = rng.random()
        if u < UPDATE_MIX["unmatchable"]:
            kind = "unmatchable"
        elif u < UPDATE_MIX["unmatchable"] + UPDATE_MIX["unknown_trip"]:
            kind = "matched"
        else:
            kind = "exact"
        ids.append((f"tu{i}", kind, trips[int(rng.integers(0, len(trips)))]))
    out = []
    for m in range(n_messages):
        ts = 1_700_000_000 + m * EVENT_STEP_S
        if rng.random() < UPDATE_MIX["malformed"]:
            bad = ('{"trip_update_id": "tu-bad", "trip_id": ' if m % 2
                   else json.dumps({"trip_id": "t", "event_ts": ts}))
            out.append({"payload": bad, "kind": "malformed", "id": None,
                        "event_ts": ts, "trip": None})
            continue
        tu, kind, trip = ids[int(rng.integers(0, n_ids))]
        sts = st_by_trip[trip[2]]
        k = int(rng.integers(1, min(4, len(sts)) + 1))
        stus = [{"stop_sequence": r[4], "stop_id": r[3]} for r in sts[:k]]
        start = sts[0][2]
        if kind == "exact":
            trip_id, route = trip[2], trip[0]
        elif kind == "matched":
            trip_id, route = f"veh-{tu}", trip[0]
        else:
            trip_id, route, start = f"veh-{tu}", trip[0], "27:59:59"
        payload = json.dumps({"trip_update_id": tu, "trip_id": trip_id, "route_id": route,
                              "start_time": start, "stop_time_updates": stus,
                              "event_ts": ts}, separators=(",", ":"))
        out.append({"payload": payload, "kind": kind, "id": tu, "event_ts": ts,
                    "trip": None if kind == "unmatchable" else trip[2]})
    with open(os.path.join(out_dir, "updates.jsonl"), "w") as f:
        for o in out:
            f.write(json.dumps(o, sort_keys=True) + "\n")
    return out


def digest(path):
    """sha256 of every file under `path`, for determinism checks."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main(argv):
    kind, out = argv[1], argv[2]
    seed = int(argv[3]) if len(argv) > 3 else 0
    if kind == "corpus":
        print(json.dumps(corpus(out, seed)))
    elif kind == "gtfs":
        manifest, base = gtfs(out, seed)
        updates(out, base, seed)
        print(json.dumps(manifest["sizes"]))
    else:
        raise SystemExit(f"unknown kind {kind}")


if __name__ == "__main__":
    main(sys.argv)
