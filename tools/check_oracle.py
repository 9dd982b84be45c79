"""Local stand-in for the driver's t2 gate: run every __spark_entry__
query on Spark AND its oracle SQL on DuckDB at the given sf, compare
row count, column names, and values (order-insensitive, float
tolerance).  Usage: python tools/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from flox_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) if abs(v) < 1e6 else round(v, max(0, 15 - len(str(int(abs(v))))))
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


# DuckDB type name -> Spark simpleString, for a schema-shape check
# approximating the driver's comparison
_TYPEMAP = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "DOUBLE[]": "array<double>",
    "FLOAT[]": "array<float>",
    "BIGINT[]": "array<bigint>",
}


def type_mismatches(sdf, orel):
    stypes = dict(sdf.dtypes)
    out = []
    for c, duck_t in zip(orel.columns, [str(t) for t in orel.types]):
        want = _TYPEMAP.get(duck_t, duck_t.lower())
        got = stypes.get(c)
        if got is not None and got != want:
            out.append(f"{c}: spark={got} duckdb={duck_t}")
    return out


def rows_key(rows, cols):
    out = []
    for r in rows:
        d = dict(zip(cols, r)) if not hasattr(r, "asDict") else r.asDict()
        out.append(tuple(norm(d[c]) for c in sorted(d)))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def main(sf_dir: str, only: list[str] | None = None, timed: bool = False) -> int:
    """``--time`` prints per-query Spark collect walls and a
    slowest-15 table at the end — the outlier hunt that caught the
    python-RDD declared-grid pathology (expected_fill, 9.9 s at
    sf0.1) now runs on demand every round."""
    import time as _time

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    n_fail = 0
    walls: list[tuple[float, str]] = []
    for name, fn in qs.items():
        try:
            t0 = _time.perf_counter() if timed else 0.0
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # Lint: the driver canonicalizes results by pandas-lexsorting
            # every column; raw array/map/struct cells are unhashable there
            # (this is exactly what turned embed_pool red in r5).  Warn so
            # new queries never reintroduce the shape.
            complex_cols = [c for c, t in sdf.dtypes
                            if t.startswith(("array<", "map<", "struct<"))]
            if complex_cols:
                print(f"{name:20s} LINT  complex-typed result cols "
                      f"{complex_cols} — driver canonicalizer may not "
                      f"lexsort these; emit strings or exploded rows")
            srows = sdf.collect()
            if timed:
                walls.append((_time.perf_counter() - t0, name))
            if name not in oracles:
                print(f"{name:20s} SPARK-ONLY rows={len(srows)}")
                continue
            orel = con.sql(oracles[name])
            ocols = orel.columns
            orows = orel.fetchall()
            status = []
            if len(srows) != len(orows):
                status.append(f"ROWS {len(srows)}!={len(orows)}")
            if sorted(scols) != sorted(ocols):
                status.append(f"COLS {sorted(scols)}!={sorted(ocols)}")
            tmis = type_mismatches(sdf, orel)
            if tmis:
                status.append(f"TYPES {tmis}")
            if not status:
                a = rows_key(srows, scols)
                b = rows_key(orows, ocols)
                bad = [(x, y) for x, y in zip(a, b) if x != y]
                if bad:
                    status.append(f"VALUES {len(bad)} diffs, first: {bad[0]}")
            if status:
                n_fail += 1
                print(f"{name:20s} FAIL  {'; '.join(status)}")
            else:
                print(f"{name:20s} OK    rows={len(srows)}")
        except Exception as e:
            n_fail += 1
            print(f"{name:20s} ERROR {type(e).__name__}: {e}")
    if timed and walls:
        walls.sort(reverse=True)
        print("\nslowest spark walls (build+collect, cold):")
        for w, name in walls[:15]:
            print(f"  {name:24s} {w:7.2f}s")
        print(f"  total {sum(w for w, _ in walls):.1f}s over {len(walls)} queries")
    print(f"\n{'FAIL' if n_fail else 'PASS'}: {len(qs) - n_fail}/{len(qs)} queries match")
    return 1 if n_fail else 0


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if a != "--time"]
    sys.exit(main(
        argv[0] if argv else "/root/testdata/sf0.01",
        argv[1:] or None,
        timed="--time" in sys.argv,
    ))
