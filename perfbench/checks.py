"""Output checks, run after the measured window.

* Query mixes: each query's parquet result is compared with its DuckDB
  oracle run over the same generated corpus, by row count and by an
  order-insensitive content hash (exact cell values, column names sorted,
  as the engine's oracle gate compares them).
* Backfill: the master holds exactly the generator's id set, every row is
  one of that id's normalized payloads, the CSV and parquet masters agree,
  and the resumed master hashes equal to the fresh one.
"""
import csv
import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon(v):
    """One representation per value, so equal cells hash equal whichever
    engine produced them (int vs integral float, NaN vs NULL, tz-aware vs
    naive UTC timestamps, Decimal vs float)."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def content(rel):
    """(sorted column names, row count, order-insensitive content hash)."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rel.fetchall())
    return [cols[i] for i in order], len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_queries(corpus_dir, result_dir, oracles, queries):
    """Returns ({query: {"rows", "hash"}}, [error, ...])."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    seen, errors = {}, []
    for q in queries:
        files = sorted(glob.glob(f"{result_dir}/{q}/*.parquet"))
        if not files:
            errors.append(f"{q}: no result")
            continue
        got = content(con.sql(f"SELECT * FROM read_parquet({files!r})"))
        seen[q] = {"rows": got[1], "hash": got[2]}
        if q not in oracles:
            errors.append(f"{q}: no oracle")
            continue
        exp = content(con.sql(oracles[q]))
        if exp != got:
            errors.append(f"{q}: expected {exp[1]} rows {exp[2][:12]} {exp[0]}, "
                          f"got {got[1]} rows {got[2][:12]} {got[0]}")
    con.close()
    return seen, errors


def _master_rows(path):
    cols = ["tmdb_id", "title", "original_title", "release_date", "genres",
            "vote_average", "vote_count", "popularity", "original_language",
            "overview", "poster_url"]
    return [tuple(r[c] for c in cols) for r in pq.read_table(path).to_pylist()]


def _csv_rows(path):
    out = []
    for f in sorted(glob.glob(f"{path}/*.csv")):
        with open(f, newline="") as fh:
            rd = csv.reader(fh, escapechar="\\")
            next(rd)
            for r in rd:
                out.append((int(r[0]), *r[1:5], float(r[5]), int(r[6]), float(r[7]), *r[8:11]))
    return out


def _hash(rows):
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


def check_backfill(manifest, out_dir, csv_name, parquet_name):
    """Returns (master row count, master hash, [error, ...])."""
    errors = []
    try:
        rows = _master_rows(f"{out_dir}/{parquet_name}")
        csv_rows = _csv_rows(f"{out_dir}/{csv_name}")
    except Exception as e:  # a missing or unreadable master
        return 0, None, [f"{out_dir}: {e}"]
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)):
        errors.append(f"{out_dir}: duplicate ids in master")
    if set(ids) != set(manifest["ids"]):
        errors.append(f"{out_dir}: master ids differ from the generated ids "
                      f"({len(set(ids))} vs {len(manifest['ids'])})")
    bad = [r for r in rows if r not in manifest["ids"].get(r[0], ())]
    if bad:
        errors.append(f"{out_dir}: {len(bad)} master rows match no payload of their id, e.g. {bad[0]!r}")
    # CSV cannot tell NULL from "", so compare both masters with NULL as ""
    blank = lambda r: tuple("" if v is None else v for v in r)
    if _hash(map(blank, rows)) != _hash(map(blank, csv_rows)):
        errors.append(f"{out_dir}: CSV and parquet masters differ")
    return len(rows), _hash(rows), errors


def tree_bytes(path, data_only=False):
    """(files, bytes) under path; data_only counts parquet/CSV data files."""
    n = b = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if data_only and not (f.endswith(".parquet") or f.endswith(".csv")):
                continue
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b
