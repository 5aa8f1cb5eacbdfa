#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 compare.py <sfDir> <verifyOutDir> [query ...]

Reads each <outDir>/<name> parquet dump written by graft.Verify, runs the
matching oracle_sql.json entry in DuckDB over <sfDir>'s tables, and
compares: row count, column names/dtypes, and values (exact after
canonical row sort; floats compared exactly first, then with 1e-9 rel
tolerance reported separately).

--strict-hash reproduces the DRIVER's verdict instead of the tolerant
local one: every cell is rendered to a canonical string (repr for
floats — full round-trip precision, no tolerance band) and the sorted
row block is SHA-256 hashed per side. Any float that differs in even
the last ulp flips the hash, exactly like the driver's
sort-columns-then-hash-values compare. Use it when chasing cross-libm
tie bugs that the tolerant compare hides."""
import json, sys, glob, os, hashlib
import duckdb
import numpy as _np
import pyarrow.parquet as pq
import pyarrow as pa

argv = [a for a in sys.argv[1:] if a not in ("--strict-hash", "--lenient-int")]
STRICT = "--strict-hash" in sys.argv
# Round-12 postmortem: strict mode used to coerce integral floats to int
# strings at render time, which silently forgave the exact divergence the
# driver detects (DuckDB HUGEINT -> pandas float64 "1435.0" vs Spark
# LongType "1435") and masked the mix_temperature bug for five rounds.
# The coercion is now OFF by default; --lenient-int restores it.
LENIENT_INT = "--lenient-int" in sys.argv

# Allowed ORACLE OUTPUT column types (driver-hash-safe). DuckDB returns
# HUGEINT for top-level sum(BIGINT) and DECIMAL for sum(DECIMAL)/avg on
# decimals; both cross the pandas bridge as float64/object and flip the
# driver's value hash against Spark's exact integer rendering. Any oracle
# whose final SELECT emits one of those is a latent hash bomb — fail it
# here at authoring time, not five rounds later.
_SAFE_BASE = {"VARCHAR", "BIGINT", "DOUBLE", "DATE", "TIMESTAMP",
              "TIMESTAMP WITH TIME ZONE", "BOOLEAN", "INTEGER", "FLOAT"}

def dtype_audit(con, name, sql):
    """DESCRIBE the oracle query; return list of (col, type) violations."""
    try:
        # DESCRIBE rows are (column_name, column_type, null, key, default,
        # extra) — keep just the first two.
        desc = [(r[0], r[1]) for r in
                con.execute(f"DESCRIBE ({sql})").fetchall()]
    except Exception:
        try:
            desc = [(d[0], None) for d in con.execute(
                f"SELECT * FROM ({sql}) LIMIT 0").description]
        except Exception as e:
            return [("<describe-error>", str(e))]
    bad = []
    for col, typ in desc:
        if typ is None:
            continue
        t = typ.strip().upper()
        while t.endswith("[]"):  # LIST of safe base type is safe
            t = t[:-2].strip()
        if t not in _SAFE_BASE:
            bad.append((col, typ))
    return bad
sf, out = argv[0], argv[1]
only = set(argv[2:])
con = duckdb.connect()
for f in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(f)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
oracles = json.load(open(f"{out}/oracle_sql.json"))

def _cell_eq(x, y):
    import numpy as np
    if isinstance(x, (list, np.ndarray)) or isinstance(y, (list, np.ndarray)):
        x = list(x) if x is not None else None
        y = list(y) if y is not None else None
        if x is None or y is None:
            return x == y
        return len(x) == len(y) and all(_cell_eq(i, j) for i, j in zip(x, y))
    if x is None or y is None:
        return (x is None) == (y is None)
    if isinstance(x, float) and isinstance(y, float):
        import math
        return x == y or (math.isnan(x) and math.isnan(y)) or abs(x - y) <= 1e-9 * max(abs(x), abs(y))
    return x == y


def canon(df):
    import datetime
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c])
    keys = [c for c in df.columns if df[c].dtype != object]
    if keys:
        df = df.sort_values(by=keys, ignore_index=True)
    return df

fails = []
# a requested name without an oracle is a failure, never a silent skip
for name in sorted(only - oracles.keys()):
    print(f"FAIL {name}: no oracle"); fails.append(name)
judged = [n for n in sorted(oracles) if not only or n in only]
for name in judged:
    sql = oracles[name]
    bad_types = dtype_audit(con, name, sql)
    if bad_types:
        print(f"FAIL {name}: unsafe oracle output dtype(s) {bad_types} — "
              f"wrap in CAST(... AS BIGINT/DOUBLE); HUGEINT/DECIMAL cross "
              f"the pandas bridge as float64 and flip the driver hash")
        fails.append(name); continue
    pdir = f"{out}/{name}"
    if not os.path.isdir(pdir):
        print(f"FAIL {name}: no spark dump"); fails.append(name); continue
    try:
        spark_df = pq.read_table(pdir).to_pandas()
    except Exception as e:
        print(f"FAIL {name}: read spark dump: {e}"); fails.append(name); continue
    try:
        duck_df = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}"); fails.append(name); continue
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        print(f"FAIL {name}: columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        fails.append(name); continue
    if len(spark_df) != len(duck_df):
        print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
        fails.append(name); continue
    a, b = canon(spark_df), canon(duck_df)
    # Negative-zero audit (round-13 lesson): DuckDB round() preserves
    # the sign of zero (-1e-9 -> -0.0) while Spark's BigDecimal round
    # normalizes to +0.0, so a rounded sign-indefinite output column
    # is a data-dependent hash bomb — repr(-0.0) != repr(0.0). Flag
    # the oracle side proactively so the author adds `+ 0.0`.
    # In STRICT mode this is a named FAILURE, not a warn: the driver
    # hashes repr(-0.0) != repr(0.0), so letting the run continue
    # just defers to a less actionable repr-mismatch later.
    _negzero = []
    for _c in b.columns:
        if b[_c].dtype.kind == "f":
            _vals = b[_c].to_numpy()
            if ((_vals == 0.0) & _np.signbit(_vals)).any():
                _negzero.append(_c)
    if _negzero:
        msg = (f"{name}: oracle column(s) {_negzero} contain -0.0 — "
               f"add `+ 0.0` to the oracle expression "
               f"(Spark round never emits -0.0)")
        if STRICT:
            print(f"FAIL negative-zero {msg}")
            fails.append(name); continue
        print(f"WARN {msg}")
    if STRICT:
        # canon() has already reindexed BOTH frames to sorted column
        # order, so itertuples below renders the two sides in the same
        # canonical order (matching the driver's sort-columns-then-hash).
        def render(df):
            import numpy as np, datetime, math
            def cell(x):
                if x is None or (isinstance(x, float) and np.isnan(x)):
                    return "<null>"
                if isinstance(x, (list, np.ndarray)):
                    return "[" + ",".join(cell(i) for i in x) + "]"
                if isinstance(x, (np.floating, float)):
                    # Driver-faithful: NO integral-float coercion here.
                    # The driver hashes "1435.0" (DuckDB HUGEINT via the
                    # pandas float64 bridge) differently from Spark's
                    # "1435"; strict mode must reproduce that, so the
                    # oracle author is forced to CAST integer sums to
                    # BIGINT. --lenient-int restores the old forgiving
                    # render for debugging only.
                    f = float(x)
                    if LENIENT_INT and math.isfinite(f) \
                            and abs(f) < 2.0 ** 53 and f == math.floor(f):
                        return str(int(f))
                    return repr(f)
                if isinstance(x, np.integer):
                    return str(int(x))
                if isinstance(x, (datetime.date, datetime.datetime)):
                    return x.isoformat()
                return str(x)
            rows = sorted("|".join(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
            return rows, hashlib.sha256("\n".join(rows).encode()).hexdigest()
        ra, ha = render(a)
        rb, hb = render(b)
        if ha != hb:
            print(f"FAIL {name}: strict hash mismatch {ha[:12]} != {hb[:12]}")
            for i, (x, y) in enumerate(zip(ra, rb)):
                if x != y:
                    print(f"    row {i}: spark={x}\n           duck ={y}")
                    break
            fails.append(name)
        else:
            print(f"ok   {name} ({len(a)} rows, strict {ha[:12]})")
        continue
    # normalize list/array cells and timestamps to comparable forms
    import numpy as np
    bad_cols = []
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if av.dtype == object or bv.dtype == object:
                eq = all(_cell_eq(x, y) for x, y in zip(av, bv))
            elif str(av.dtype).startswith("datetime") or str(bv.dtype).startswith("datetime"):
                a_us = av.astype("datetime64[us]").values
                b_us = bv.astype("datetime64[us]").values
                eq = ((a_us == b_us) | (np.isnat(a_us) & np.isnat(b_us))).all()
            elif av.dtype.kind == "f":
                eq = ((av.values == bv.values) | (np.isnan(av.values) & np.isnan(bv.values))).all()
                if not eq:
                    close = np.allclose(av.values, bv.values, rtol=1e-9, atol=1e-12, equal_nan=True)
                    if close:
                        mx = np.nanmax(np.abs(av.values - bv.values))
                        print(f"  ~ {name}.{c}: not exact but close (max abs diff {mx:.3e})")
                    eq = close
            else:
                eq = (av.values == bv.values).all()
        except Exception as e:
            eq = False
            print(f"  ! {name}.{c}: compare error {e}")
        if not eq:
            bad_cols.append(c)
    if bad_cols:
        print(f"FAIL {name}: value mismatch in {bad_cols}")
        for c in bad_cols[:2]:
            av, bv = a[c], b[c]
            for i in range(len(av)):
                try:
                    same = _cell_eq(av.iloc[i], bv.iloc[i])
                except Exception:
                    same = False
                if not same:
                    print(f"    row {i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}")
                    break
        fails.append(name)
    else:
        print(f"ok   {name} ({len(a)} rows)")

total = len(judged) + len(only - oracles.keys())
print(f"\n{total - len(fails)}/{total} ok; failures: {fails}")
sys.exit(1 if fails else 0)
