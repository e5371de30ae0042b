"""Checks of a run's outputs against expectations made apart from the
program.

* Catalog workloads: each query's rows (saved by the harness from its
  first pass) against DuckDB running the program's oracle SQL over the
  same parquet inputs. The comparison is ``tools/check.py``'s: columns
  sorted by name, rows sorted, exact cell compare. DuckDB results are
  cached by SQL text and input, since some oracles take seconds.
* ``fleet_dqa``: each flow's report against the generator's truth.

``check`` returns the operations whose output is wrong and those
verified correct. Every later pass of an operation is compared with
its first pass inside the JVM, so a wrong first pass makes every pass
of that operation wrong.
"""
import decimal
import glob
import hashlib
import json
import os
from fractions import Fraction
from datetime import date

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def check(workload, data, out, build, tamper=None):
    if workload == "fleet_dqa":
        return check_fleet(data, out, tamper)
    return check_catalog(data, out, build, tamper)


# ---------------------------------------------------------------------
# catalog queries vs DuckDB
# ---------------------------------------------------------------------
def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def _oracle(con, sql, data, cache_dir):
    key = hashlib.sha256((sql + "\0" + os.path.basename(data)).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def _compare(got, exp):
    """None when equal, else the first difference (tools/check.py's rule)."""
    got, exp = _norm(got), _norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}[{i}]: spark={a[i]!r} duckdb={b[i]!r} ({(~eq).sum()} cells)"
    return None


def check_catalog(data, out, build, tamper):
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{build}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    failed, verified, notes = set(), set(), []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out, "outputs", name, "*.parquet"))
        if not files:
            continue  # no successful pass: counted failed by its status
        got = pd.read_parquet(files[0]) if len(files) == 1 else \
            pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        exp = _oracle(con, sql, data, os.path.join(build, "oracle"))
        if name == tamper:
            exp = exp.iloc[1:]
        diff = _compare(got, exp)
        if diff:
            failed.add(name)
            notes.append(f"{name} differs from the oracle: {diff}")
        else:
            verified.add(name)
    return failed, verified, notes


# ---------------------------------------------------------------------
# fleet flows vs the generator's truth
# ---------------------------------------------------------------------
def _stddev_rounded(ordinals):
    """Sample stddev of day ordinals, exact, rounded half to even."""
    n = len(ordinals)
    if n < 2:
        return None
    mean = Fraction(sum(ordinals), n)
    var = sum((Fraction(x) - mean) ** 2 for x in ordinals) / (n - 1)
    with decimal.localcontext() as ctx:
        ctx.prec = 50
        sd = (decimal.Decimal(var.numerator) / decimal.Decimal(var.denominator)).sqrt()
        return float(sd.quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_EVEN))


def expected_fleet(truth, site_ids):
    facts = ["obs", "encounter", "orders"]
    dcc_rows = []
    for name, tables in sorted(truth["dcc"].items()):
        dates = [tables[t]["max_date"] for t in facts]
        ords = [date.fromisoformat(d).toordinal() for d in dates if d is not None]
        dcc_rows.append({
            "facility_id": site_ids[name], "facility_name": name,
            "obs_max_date": dates[0], "encounter_max_date": dates[1],
            "orders_max_date": dates[2], "std_dev": _stddev_rounded(ords)})
    n = len(truth["sources"])
    dcc = {"rows_written": len(dcc_rows), "sources_total": n,
           "skipped": truth["dcc_skipped"], "rows": dcc_rows}

    src = {}
    for key, live in truth["census"].items():
        site, table = key.split("|")
        if site not in truth["ppe_skipped"] and live > 0:
            src[(site_ids[site], table)] = live
    dst = {(site_ids[s], t): c for s, t, c in truth["dest"]}
    ppe_rows = []
    for k in sorted(set(src) | set(dst)):
        a, b = src.get(k), dst.get(k)
        ppe_rows.append({"site_id": k[0], "table_name": k[1],
                         "record_count_source": a, "record_count_ohdl": b,
                         "variance": a - b if a is not None and b is not None else None})
    ppe = {"rows_written": len(ppe_rows), "sources_total": n,
           "skipped": truth["ppe_skipped"], "rows": ppe_rows}

    jdbc_rows = [{"source_schema": s, "RECORD_COUNT": v["count"], "MAX_TS": v["max_ts"]}
                 for s, v in sorted(truth["jdbc"].items())]
    jdbc = {"schemas": sorted(truth["jdbc_schemas"]), "skipped": truth["jdbc_skipped"],
            "rows_written": len(jdbc_rows), "rows": jdbc_rows}
    return {"dcc_freshness": dcc, "ppe_reconciliation": ppe, "jdbc_flow": jdbc}


def _canon(report):
    """Order-free form of a report: rows as a sorted list of items."""
    r = dict(report)
    r.pop("telemetry", None)
    r["rows"] = sorted(json.dumps(row, sort_keys=True) for row in r["rows"])
    r["skipped"] = sorted(r["skipped"])
    return r


def check_fleet(data, out, tamper):
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    with open(os.path.join(out, "site_ids.json")) as f:
        site_ids = json.load(f)
    expected = expected_fleet(truth, site_ids)
    failed, verified, notes = set(), set(), []
    for name, exp in expected.items():
        path = os.path.join(out, "outputs", name + ".json")
        if not os.path.exists(path):
            continue  # no successful pass: counted failed by its status
        with open(path) as f:
            got = json.load(f)
        if name == tamper:
            exp = dict(exp, rows_written=exp["rows_written"] + 1)
        g, e = _canon(got), _canon(exp)
        if g != e:
            failed.add(name)
            diff = [k for k in e if g.get(k) != e[k]]
            notes.append(f"{name} differs from the generator's truth in {diff}")
        else:
            verified.add(name)
    return failed, verified, notes
