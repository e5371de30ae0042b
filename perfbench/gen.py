"""Seeded input generators for the benchmark.

Two inputs, each written once per seed and reused by later runs:

* ``corpus``: the star-schema + events + documents + embeddings tables
  the catalog queries read (one parquet file per table, the layout and
  column types of the program's test corpus), at a fraction of sf0.1.
* ``fleet``: a fleet of facility sources for the reference's nightly
  data-quality batch, one directory per source holding obs / encounter /
  orders / person / patient / patient_state tables, a destination
  census with planted discrepancies, the rows of the embedded database
  the JDBC flow reads, and the ground truth of all of it, computed
  here from the generated rows and never from the program's output.

``run.py`` calls ``corpus`` and ``fleet`` with the benchmark's sizes.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0 (= sf0.1 of the program's test corpus).
CORPUS_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000,
    "embeddings": 2000,
}
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (microseconds) drawn uniformly in [start, end]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def corpus(seed, out, scale):
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(round(r * scale))) for t, r in CORPUS_ROWS.items()}
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    c = n["customer"]
    _write(pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    }), f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }), f"{out}/supplier.parquet")
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "small", "green", "cold"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "plate"])
    _write(pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, p)], " "),
                              noun[rng.integers(0, 6, p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 2000) / 10.0, 2),
    }), f"{out}/part.parquet")
    o = n["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    }), f"{out}/orders.parquet")
    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
    }), f"{out}/lineitem.parquet")
    e = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, e))
    _write(pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{out}/events.parquet")
    _write(pa.table(_documents(rng, n["documents"])), f"{out}/documents.parquet")
    m = n["embeddings"]
    x = rng.standard_normal((m, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    }), f"{out}/embeddings.parquet")


def _documents(rng, d):
    """Random texts over a 30-word vocabulary; about 5% are planted
    near-duplicates: another document's text with ' dup' appended."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, d)]
    dups = rng.choice(d, size=max(1, d // 20), replace=False)
    dup_set = set(dups.tolist())
    originals = np.array([k for k in range(d) if k not in dup_set])
    for k in dups:
        texts[k] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# ---------------------------------------------------------------------
# Fleet of facility sources (the reference's nightly DQA batch)
# ---------------------------------------------------------------------
FACT_TABLES = {"obs": "obs_datetime", "encounter": "encounter_datetime",
               "orders": "start_date"}
CENSUS_TABLES = ["obs", "encounter", "orders", "person", "patient",
                 "patient_state"]  # patient_state has no voided column
CUTOFF = dt.datetime(2024, 1, 1)  # the freshness run's "now"
JDBC_TABLE = "ENCOUNTER"


def fleet(seed, out, facilities, rows_lo, rows_hi):
    """Writes the fleet and returns its ground truth.

    Facility k is ``openmrs_fNN``. Planted faults, placed by the seed
    on two different sources, so that every flow skips one source and
    plans the others: one source lacks a fact table (both pipelines
    skip it), and one schema of the embedded database lacks its table
    (the JDBC flow skips it). The destination census is the true live count per
    (site, table) except for planted discrepancies: counts off by a
    few rows, (site, table) pairs missing from the destination, and a
    destination-only site.
    """
    rng = np.random.default_rng([seed, 2])
    names = [f"openmrs_f{k:02d}" for k in range(facilities)]
    picks = rng.choice(facilities, size=2, replace=False)
    no_fact, no_jdbc = (names[k] for k in picks)
    # the sizes of the tables and which table is missing do not depend
    # on the seed, so every seed asks the same work of the program
    missing_fact_table = "orders"
    sizes = iter(np.linspace(rows_lo, rows_hi, facilities * (len(CENSUS_TABLES) + 1))
                 .astype(int)[np.random.default_rng(0).permutation(
                     facilities * (len(CENSUS_TABLES) + 1))].tolist())
    root = f"{out}/sources"
    truth = {"sources": names, "cutoff": CUTOFF.isoformat(sep=" "),
             "dcc": {}, "census": {}, "jdbc": {}}
    cutoff_s = int(CUTOFF.replace(tzinfo=dt.timezone.utc).timestamp())
    for name in names:
        # each facility's data stops on its own last-upload day, so max
        # dates (and with them the freshness spread) differ per facility
        last_day = np.datetime64("2023-12-31") - rng.integers(0, 40)
        per_table_last = {t: last_day - rng.integers(0, 25) for t in FACT_TABLES}
        for t in CENSUS_TABLES:
            n = next(sizes)
            if name == no_fact and t == missing_fact_table:
                continue
            cols = {"id": np.arange(n, dtype=np.int64)}
            live = n
            if t != "patient_state":
                voided = (rng.random(n) < 0.07).astype(np.int32)
                cols["voided"] = voided
                live = int(n - voided.sum())
            else:
                cols["state"] = rng.integers(1, 6, n).astype(np.int32)
            if t in FACT_TABLES:
                first = np.datetime64("2022-01-01T00:00:00", "s")
                end = per_table_last[t] + np.timedelta64(1, "D")
                span = int((end.astype("datetime64[s]") - first) / np.timedelta64(1, "s"))
                secs = first + rng.integers(0, span, n).astype("timedelta64[s]")
                future = rng.random(n) < 0.02  # rows past the cutoff
                secs[future] = (np.datetime64("2024-01-02T00:00:00", "s")
                                + rng.integers(0, 86400 * 90, int(future.sum()))
                                .astype("timedelta64[s]"))
                cols[FACT_TABLES[t]] = pa.array(secs.astype("datetime64[us]"),
                                                pa.timestamp("us", tz="UTC"))
                under = secs < np.datetime64(CUTOFF, "s")
                truth["dcc"].setdefault(name, {})[t] = {
                    "count": int(under.sum()),
                    "max_date": str(secs[under].max().astype("datetime64[D]"))
                    if under.any() else None}
            _write(pa.table(cols), f"{root}/{name}/{t}/part-00000.parquet")
            truth["census"][f"{name}|{t}"] = live
        # the facility's database holds its own encounter rows
        n = next(sizes) // 4
        secs = rng.integers(1640995200, cutoff_s + 86400 * 30, n)  # 2022-01-01 ..
        voided = (rng.random(n) < 0.07).astype(int)
        if name != no_jdbc:
            _write_jdbc(out, name, zip(secs.tolist(), voided.tolist()))
            ok = secs[(voided == 0) & (secs < cutoff_s)]
            truth["jdbc"][name.upper()] = {
                "count": int(len(ok)), "max_ts": int(ok.max()) if len(ok) else None}
    truth["dcc_skipped"] = [no_fact]
    truth["ppe_skipped"] = [no_fact]
    truth["jdbc_schemas"] = [n.upper() for n in names]
    with open(f"{out}/jdbc/schemas.txt", "w") as f:
        f.writelines(s + "\n" for s in truth["jdbc_schemas"])
    truth["jdbc_skipped"] = [no_jdbc.upper()]
    for name in truth["dcc_skipped"]:
        truth["dcc"].pop(name, None)
    truth["dest"] = _destination(rng, names, truth)
    pq.write_table(pa.table({
        "site_name": [r[0] for r in truth["dest"]],
        "table_name": [r[1] for r in truth["dest"]],
        "record_count": pa.array([r[2] for r in truth["dest"]], pa.int64()),
    }), f"{out}/dest_census.parquet")
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def _destination(rng, names, truth):
    """The warehouse census: true live counts, then planted faults."""
    rows = {}
    for key, live in truth["census"].items():
        rows[key] = live
    keys = sorted(rows)
    picks = rng.choice(len(keys), size=6, replace=False)
    for k in picks[:4]:  # off by a few rows, either way
        rows[keys[k]] += int(rng.choice([-1, 1]) * rng.integers(1, 50))
    for k in picks[4:]:  # missing from the destination
        del rows[keys[k]]
    for t in ("obs", "person"):  # a site only the warehouse knows
        rows[f"openmrs_retired|{t}"] = int(rng.integers(100, 1000))
    return [k.split("|") + [v] for k, v in sorted(rows.items())]


def _write_jdbc(out, name, rows):
    os.makedirs(f"{out}/jdbc", exist_ok=True)
    with open(f"{out}/jdbc/{name.upper()}.csv", "w") as f:
        f.writelines(f"{s},{v}\n" for s, v in rows)

