#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check.py [sfDir] [outDir]

Runs `graft.Verify` output (outDir/<name>/ parquet + oracle_sql.json) against
DuckDB over the same sf tables and compares: row count, schema (column names),
and exact cell values after sorting columns by name and rows by all columns.
Dev tool only — not part of the engine.
"""
import collections, json, sys, glob, os, tempfile
import duckdb
import pandas as pd
import numpy as np

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

# Let operators that outgrow DuckDB's memory limit spill to disk instead of
# failing with "Out of Memory" (the doc-graph fixpoint oracles at sf0.01).
con = duckdb.connect(config={"temp_directory": os.path.join(tempfile.gettempdir(), "graft_check_duckdb")})
for f in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

# A query that threw inside Verify surfaces in _errors.json — fail loudly
# here instead of letting the query silently vanish from the compare (the
# r10 failure mode: 8 broken queries read as "not registered").
errpath = f"{out}/_errors.json"
verify_errors = json.load(open(errpath)) if os.path.exists(errpath) else {}

def null_promoted(col):
    """True for a float column pandas made out of an integer column that
    holds NULLs: it has a NaN and every other value is integral. A float
    column with no NaN (a DuckDB HUGEINT SUM, a DOUBLE) is really float."""
    if not pd.api.types.is_float_dtype(col):
        return False
    v = col.to_numpy()
    nan = np.isnan(v)
    return bool(nan.any()) and bool((v[~nan] == np.floor(v[~nan])).all())

def dtype_mismatch(g, e):
    """The dtype-parity gate: one side integer, the other float, unless
    the float side is an integer column pandas promoted for its NULLs."""
    g_int, e_int = pd.api.types.is_integer_dtype(g), pd.api.types.is_integer_dtype(e)
    return g_int != e_int and not (null_promoted(g) or null_promoted(e))

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) is not None else df[c]
    return df.sort_values(by=list(df.columns), ignore_index=True)

# A twin shares its batch query's oracle SQL: run each distinct SQL once and
# keep its result only until the last name that uses it is compared.
pending = collections.Counter(oracle.values())
results = {}

def expected(sql):
    if sql not in results:
        results[sql] = con.execute(sql).df()
    pending[sql] -= 1
    return results.pop(sql) if pending[sql] == 0 else results[sql]

fails = []
for name, msg in sorted(verify_errors.items()):
    fails.append((name, f"Verify threw: {msg}"))
# Every oracle entry must have a corresponding Spark output dir — a missing
# dir means the query never ran (thrown, unregistered, or name drift), which
# must read as a failure, not as absence.
for name in sorted(oracle):
    if name not in verify_errors and not os.path.isdir(os.path.join(out, name)):
        fails.append((name, "oracle entry has no Spark output dir"))
for name in sorted(os.listdir(out)):
    pq_dir = os.path.join(out, name)
    if not os.path.isdir(pq_dir):
        continue
    try:
        got = pd.read_parquet(pq_dir)
    except Exception as e:
        fails.append((name, f"spark output unreadable: {e}")); continue
    if name not in oracle:
        print(f"  {name:24s} rows-only: {len(got)} rows {'OK' if len(got) > 0 else 'EMPTY!'}")
        if len(got) == 0:
            fails.append((name, "rows-only query returned 0 rows"))
        continue
    try:
        exp = expected(oracle[name])
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}")); continue
    if sorted(got.columns) != sorted(exp.columns):
        fails.append((name, f"schema mismatch: spark={sorted(got.columns)} duckdb={sorted(exp.columns)}")); continue
    g, e = canon(got), canon(exp)
    if len(g) != len(e):
        fails.append((name, f"row count: spark={len(g)} duckdb={len(e)}")); continue
    ok = True
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        g_num = pd.api.types.is_numeric_dtype(g[c])
        e_num = pd.api.types.is_numeric_dtype(e[c])
        if g_num and e_num and (pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(e[c])):
            # DTYPE-PARITY GATE (r21): the driver hashes canonicalized cell
            # strings, so an integer Spark column against a float oracle
            # column ("549" vs "549.0") hash-fails even when the values are
            # equal — the exact class that shipped q_cat_top_rank /
            # q_channel_report red in r20 (DuckDB SUM(BIGINT) -> HUGEINT ->
            # pandas float64). Oracle rule: any SUM over an integer column
            # must CAST(... AS BIGINT). A side pandas promoted to float for
            # its NULLs counts as integer: its cells then differ in value,
            # and the value compare below reports that.
            if dtype_mismatch(g[c], e[c]):
                fails.append((name, f"col {c} dtype parity: spark={g[c].dtype} duckdb={e[c].dtype} "
                              "(driver's canonical-string hash would fail; cast the oracle aggregate)"))
                ok = False
                break
            # numeric pair with at least one float side (covers int64-vs-float64
            # aggregates): compare as float, NaN == NaN
            gf, ef = gv.astype(float), ev.astype(float)
            same = (gf == ef) | (np.isnan(gf) & np.isnan(ef))
        else:
            same = pd.Series(gv).astype(str).to_numpy() == pd.Series(ev).astype(str).to_numpy()
        if not same.all():
            i = int(np.argmin(same))
            fails.append((name, f"col {c} differs at sorted-row {i}: spark={gv[i]!r} duckdb={ev[i]!r} ({int((~same).sum())} cells)"))
            ok = False
            break
    if ok:
        print(f"  {name:24s} OK ({len(g)} rows)")

print()
if fails:
    print(f"FAIL {len(fails)}:")
    for n, m in fails:
        print(f"  {n}: {m}")
    sys.exit(1)
print("ALL GREEN")
