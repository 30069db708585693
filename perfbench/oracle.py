"""catalog_read's correctness gate: every query output the benchmark wrote
must hash equal to its DuckDB oracle over the same tables.

The comparison is type-faithful and order-insensitive: column names and
Arrow types go into the hash, rows are sorted, doubles compare by repr.
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ("lineitem", "orders", "customer", "supplier", "part", "nation",
          "region", "events", "documents", "embeddings")


def _canon_type(t):
    s = str(t)
    if s in ("large_string", "string_view"):
        return "string"
    if s.startswith("timestamp"):
        return s.replace(", tz=UTC", "").replace("[us, tz=+00]", "[us]")
    return s


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return "b:" + str(v)
    return str(v)


def _table(rel):
    tbl = rel.arrow()
    cols = [f.name.lower() for f in tbl.schema]
    types = [_canon_type(f.type) for f in tbl.schema]
    rows = [tuple(r[c] for c in tbl.schema.names) for r in tbl.to_pylist()]
    return cols, types, rows


def _hash(cols, types, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    h.update(("|".join(f"{cols[i]}:{types[i]}" for i in order) + "\n").encode())
    for row in sorted(tuple(_norm(r[i]) for i in order) for r in rows):
        h.update(("|".join(row) + "\n").encode())
    return h.hexdigest()


def gate(verify_dir, data_dir):
    """Gate record in the benchmark's shape, with its negative case: the
    first non-empty output, minus one row, must fail the same comparison."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad, negative_fails = [], None
    for name in sorted(oracles):
        files = os.path.join(verify_dir, name, "*.parquet")
        if not oracles[name] or not glob.glob(files):
            bad.append(f"{name}: no oracle or no output")
            continue
        try:
            spark = _table(con.execute(f"SELECT * FROM '{files}'"))
            want = _table(con.execute(oracles[name]))
        except duckdb.Error as e:
            bad.append(f"{name}: {str(e)[:200]}")
            continue
        if _hash(*spark) != _hash(*want):
            bad.append(f"{name}: hash differs (rows {len(spark[2])} vs {len(want[2])})")
        elif negative_fails is None and spark[2]:
            cols, types, rows = spark
            negative_fails = _hash(cols, types, rows[:-1]) != _hash(*want)
    return {"name": "catalog.oracle_hashes", "ok": not bad,
            "detail": f"{len(oracles) - len(bad)} of {len(oracles)} equal their oracle"
                      + (f"; {bad[:5]}" if bad else ""),
            "negative_fails": bool(negative_fails)}
