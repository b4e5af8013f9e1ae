"""Seeded inputs for the benchmark: a small lake with the same ten tables and
column types as the project's test lake, plus the `dataset-*.json` configs the
`ingest` workload loads. The same seed always gives byte-identical files.

Usage (standalone): python3 perfbench/gen.py <out_dir> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the project's sf0.01 lake, except documents (sf0.01 has 500),
# which gives the dedup queries a few dozen planted near-duplicates.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 800,
        "embeddings": 500}
VOCAB = ("the a join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.38, 0.155, 0.155, 0.155, 0.155]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, lo_days, span_days):
    return EPOCH_1995 + (lo_days + rng.integers(0, span_days, n)) * DAY_US


def make_lake(out, seed):
    """Write the ten lake tables for `seed` under `out`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = ROWS["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = ROWS["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    colors = ["blue", "red", "green", "small", "large", "tiny", "steel",
              "brass", "black", "white", "pale", "dark", "shiny"]
    nouns = ["anvil", "bolt", "ring", "widget", "gear"]
    price = np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, len(colors), n),
                       rng.integers(0, len(nouns), n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "LARGE", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": price})

    n_orders = ROWS["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, n_orders, 0, 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    n = ROWS["lineitem"]
    partkey = rng.integers(0, ROWS["part"], n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, 1, 2498)})

    n = ROWS["events"]
    steps = rng.exponential(30 * DAY_US / n, n).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.minimum(
        np.cumsum(steps), 30 * DAY_US - 1)
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], n),
        "value": _money(rng, 0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = ROWS["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB),
                                         rng.integers(10, 100))])
             for _ in range(n)]
    # one document in twenty is an exact copy of an earlier one plus " dup"
    # (the planted near-duplicates the dedup queries find)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n = ROWS["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def _window(rng, lo_days, span_days, frac):
    """A seeded [start, end] date window covering `frac` of the span."""
    width = int(span_days * frac)
    start = lo_days + int(rng.integers(0, span_days - width))
    d = EPOCH_1995 + np.timedelta64(start, "D").astype("timedelta64[us]")
    e = d + np.timedelta64(width, "D").astype("timedelta64[us]")
    return str(d)[:10], str(e)[:10]


def _chain(rng, required, date_cols, mask_col, mappings):
    """A seeded chain of the registered transforms; the column rename, when
    drawn, runs last so the earlier steps see the source names."""
    steps = [
        {"type": "DataCleansing",
         "config": {"trimWhitespace": True,
                    "removeEmptyStrings": bool(rng.integers(0, 2))}},
        {"type": "DataValidation", "config": {"requiredColumns": required}},
        {"type": "DateFormat",
         "config": {"columns": date_cols,
                    "format": str(rng.choice(["yyyy-MM-dd",
                                              "yyyyMMdd HH:mm"]))}},
        {"type": "DataMasking",
         "config": {"columns": [mask_col],
                    "maskType": str(rng.choice(["full", "partial"])),
                    "keepLast": int(rng.integers(1, 4))}},
        {"type": "NullSentinels", "config": {}},
    ]
    picked = [steps[i] for i in
              rng.permutation(len(steps))[:int(rng.integers(2, 5))]]
    if rng.integers(0, 2):
        picked.append({"type": "ColumnMapping",
                       "config": {"mappings": mappings}})
    for order, s in enumerate(picked, 1):
        s["order"] = order
    return picked


def make_configs(out, seed):
    """Write the `ingest` workload's dataset configs for `seed` under `out`.
    Query extraction over the lake with seeded `:StartDate`/`:EndDate`
    windows, seeded transform chains, and a FileSystem upload destination
    relative to each run's staging directory."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out, exist_ok=True)

    def cfg(ds_id, sql, params, chain, **extra):
        c = {"datasetId": ds_id, "name": ds_id, "enabled": True,
             "source": {"type": "Parquet", "extractionType": "Query",
                        "sqlText": sql, "parameters": params},
             "transformations": chain,
             "parquet": {"fileNamePattern": ds_id + "_{date:yyyyMMdd}.parquet",
                         "compressionCodec": "Snappy", "rowGroupSize": 10000},
             "upload": {"provider": "FileSystem",
                        "fileSystemConfig": {"basePath": "",
                                             "relativePath": "upload/" + ds_id},
                        "overwriteExisting": True}}
        c.update(extra)
        with open(os.path.join(out, f"dataset-{ds_id}.json"), "w") as f:
            json.dump(c, f, indent=1, sort_keys=True)

    between = "BETWEEN :StartDate AND :EndDate"
    s, e = _window(rng, 1, 2498, 0.4)
    cfg("lineitem-ship", f"SELECT * FROM lineitem WHERE l_shipdate {between}",
        {"StartDate": s, "EndDate": e},
        _chain(rng, ["l_orderkey", "l_shipdate"], ["l_shipdate"],
               "l_returnflag", {"l_extendedprice": "ExtendedPrice"}))
    s, e = _window(rng, 0, 2404, 0.5)
    cfg("orders-daily", f"SELECT * FROM orders WHERE o_orderdate {between}",
        {"StartDate": s, "EndDate": e},
        _chain(rng, ["o_orderkey"], ["o_orderdate"], "o_orderpriority",
               {"o_totalprice": "TotalPrice"}))
    day = int(rng.integers(0, 15))
    cfg("events-window", f"SELECT * FROM events WHERE ts {between}",
        {"StartDate": f"2024-01-{day + 1:02d}",
         "EndDate": f"2024-01-{day + 16:02d}"},
        _chain(rng, ["event_id", "ts"], ["ts"], "props",
               {"event_type": "EventType"}))
    lo = int(rng.integers(1, 20))
    cfg("lineitem-qty",
        "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,"
        " l_returnflag, l_shipdate FROM lineitem"
        " WHERE l_quantity BETWEEN :QLo AND :QHi",
        {"QLo": lo, "QHi": lo + 20},
        _chain(rng, ["l_orderkey"], ["l_shipdate"], "l_returnflag",
               {"l_quantity": "Quantity"}))
    s, e = _window(rng, 0, 2404, 0.3)
    # changelog of order states: key, sequence and operation columns
    cfg("orders-merge",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
        " CAST(o_orderkey % 7 AS BIGINT) AS seq,"
        " CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op"
        f" FROM orders WHERE o_orderdate {between}",
        {"StartDate": s, "EndDate": e},
        [{"type": "DataCleansing", "order": 1,
          "config": {"trimWhitespace": True}}],
        merge={"enabled": True, "keyColumns": ["o_orderkey"],
               "sequenceColumn": "seq", "operationColumn": "op",
               "deleteOperation": "D"})


def make_inputs(out, seed):
    make_lake(os.path.join(out, "lake"), seed)
    make_configs(os.path.join(out, "configs"), seed)


if __name__ == "__main__":
    make_inputs(sys.argv[1], int(sys.argv[2]))
