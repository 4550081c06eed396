"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and compares with its
oracle_sql() in DuckDB: row count, column names, an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified), AND
a canonical result-type signature per column.

The type signature exists because the stringified-value hash is type-blind
(VERDICT r4 #2): DuckDB SUM(BIGINT) returns HUGEINT, which a pandas/Arrow
fetch — the path the driver uses — renders as float64 while Spark emits
int64, so the driver's hash diverges even though fetchall() values
stringify equal.  canon_type() maps both engines' type names onto a shared
vocabulary; HUGEINT and DECIMAL oracle outputs are flagged outright (the
oracle must CAST them away) so the replica fails exactly where the driver
would.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


#: oracle output types that the driver's pandas/Arrow fetch mangles —
#: HUGEINT→float64, DECIMAL→float64 — making its hash diverge from Spark's
#: int64 even when the values are identical.  Oracles must CAST these away.
BANNED_ORACLE_TYPES = ("hugeint", "decimal")


def canon_type(t: str) -> str:
    """Map a Spark dtype string or DuckDB type name onto one vocabulary.

    Integer widths are collapsed (the hash stringifies values, so widths
    never diverge) but int-vs-float and the BANNED kinds are preserved.
    """
    s = str(t).strip().lower()
    if s.startswith("decimal"):
        return "decimal"
    if s == "hugeint":
        return "hugeint"
    if s.endswith("[]") or s.startswith("array"):
        return "array"
    if s.startswith("struct"):
        return "struct"
    if s.startswith("map"):
        return "map"
    if s in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "utinyint", "usmallint", "uinteger", "ubigint", "hugeint"):
        return "int"
    if s in ("float", "double", "real"):
        return "float"
    if s in ("string", "varchar", "text", "char"):
        return "str"
    if s in ("boolean", "bool"):
        return "bool"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "ts"
    if s in ("binary", "blob"):
        return "bin"
    return s


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    import __spark_entry__ as entrymod
    from resume_ocr_spark.session import get_spark

    spark = get_spark(app_name="contract", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {c: canon_type(t) for c, t in sdf.dtypes}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows ({dt:.1f}s) [rows-only]")
            if len(srows) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            draw_types = [str(t) for t in rel.types]
            dtypes = {c: canon_type(t) for c, t in zip(dcols, draw_types)}
            drows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        banned = [f"{c}:{t}" for c, t in zip(dcols, draw_types)
                  if canon_type(t) in BANNED_ORACLE_TYPES]
        if banned:
            print(f"FAIL  {name}: oracle type lint — driver-unsafe column "
                  f"type(s) {banned}; CAST them in the oracle SQL")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_types = ok_cols and all(stypes[c] == dtypes[c] for c in scols)
        ok_count = len(srows) == len(drows)
        sh, dh = frame_hash(scols, srows), frame_hash(dcols, drows)
        ok_hash = sh == dh
        status = "OK  " if (ok_cols and ok_types and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status}  {name}: rows {len(srows)}/{len(drows)} "
              f"cols={ok_cols} types={ok_types} "
              f"hash={'=' if ok_hash else f'{sh}!={dh}'} ({dt:.1f}s)")
        if not ok_cols:
            print(f"      spark={sorted(scols)} duck={sorted(dcols)}")
        elif not ok_types:
            diff = {c: (stypes[c], dtypes[c]) for c in scols
                    if stypes[c] != dtypes[c]}
            print(f"      type mismatch (spark, duck): {diff}")
        if ok_cols and ok_count and not ok_hash:
            sset = {tuple(norm_cell(v) for v in r) for r in srows}
            dset = {tuple(norm_cell(v) for v in r) for r in drows}
            # align column order for the diff
            sord = sorted(range(len(scols)), key=lambda i: scols[i])
            dord = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sset = {tuple(r[i] for i in sord) for r in sset}
            dset = {tuple(r[i] for i in dord) for r in dset}
            print(f"      spark-only={list(sset - dset)[:2]}")
            print(f"      duck-only={list(dset - sset)[:2]}")
    print(f"\n{failures} failures")
    return failures


if __name__ == "__main__":
    # usage: check_contract.py [name1,name2,...] [sf_dir]
    #   SPARK_GRAFT_GATE_SF overrides the default sf0.01 directory, e.g.
    #   SPARK_GRAFT_GATE_SF=/root/testdata/sf0.1 for the 10x-scale sweep
    only: list[str] = []
    sf_dir = os.environ.get("SPARK_GRAFT_GATE_SF", "/root/testdata/sf0.01")
    for arg in sys.argv[1:]:
        if os.sep in arg:  # path-shaped → must be a real sf dir
            if not os.path.isdir(arg):
                sys.exit(f"error: sf_dir does not exist: {arg}")
            sf_dir = arg
        else:
            only.extend(arg.split(","))
    import __spark_entry__ as _entry
    unknown = set(only) - set(_entry.queries())
    if unknown:
        sys.exit(f"error: unknown query names: {sorted(unknown)}")
    sys.exit(1 if main(sf_dir=sf_dir, only=only or None) else 0)
